#!/usr/bin/env python
"""10x/100x scale soak for the heaviest pipelines:

- ingest_batch + write_store at 20k / 200k / 2M synthetic certs
- minhash_lsh_pairs at 1x / 10x the sf0.1 documents corpus (the 10x
  corpus is built JVM-side by replicating each doc with a perturbed tail
  token — deliberately near-dup-heavy, so the banded self-join does real
  pair work instead of the random-corpus nothing)
- the ANN serve path (r5 task 4): ivf_build_index + ivf_topk_indexed at
  1x / 10x / 100x the sf0.1 embeddings (each replica perturbed so
  vectors are distinct). Per rung: build wall, probe wall, the probed
  row fraction (must track n_probe/n_cells, not corpus size), and a
  PartitionFilters assertion on the probe scan's executed plan. A final
  100x rung at n_cells=128 exercises the vectorized (Arrow matmul)
  assignment tier during the build.

Protocol: source parquet materialized to /tmp first (generation excluded,
like bench.py's ingest entries); each rung timed twice, both iterations
recorded. Prints one JSON line; findings land in BASELINE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

INGEST_RUNGS = [20_000, 200_000, 2_000_000]
DOC_MULTS = [1, 10]
EMB_MULTS = [1, 10, 100]
ITERATIONS = 2


def _certs_path(spark, n: int) -> str:
    path = f"/tmp/ctspark_soak_certs_{n}"
    try:
        spark.read.parquet(path).head(1)
    except Exception:
        from ct_mapreduce_spark.sources.certificates import synthetic_certificates

        synthetic_certificates(spark, n=n).write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    import datetime as dt

    from pyspark.sql import functions as F

    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_lsh_pairs
    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store
    from ct_mapreduce_spark.session import get_spark
    from ct_mapreduce_spark.sources.tables import load_table

    spark = get_spark("scale-soak")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    now = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)

    results: dict[str, dict] = {}
    for n in INGEST_RUNGS:
        certs = spark.read.parquet(_certs_path(spark, n))
        times = []
        for _ in range(ITERATIONS):
            out = tempfile.mkdtemp(prefix="ctspark_soak_store_")
            t0 = time.perf_counter()
            write_store(ingest_batch(certs, now=now), out)
            times.append(round(time.perf_counter() - t0, 2))
            shutil.rmtree(out, ignore_errors=True)
        results[f"ingest_{n}"] = {"iterations": times, "min": min(times)}
        print(f"ingest n={n}: {times}", file=sys.stderr)

    base_docs = load_table(spark, "documents", "/root/testdata/sf0.1")

    def _docs_at(mult: int):
        if mult == 1:
            return base_docs
        reps = spark.range(mult).withColumnRenamed("id", "_rep")
        return base_docs.crossJoin(reps).select(
            (F.col("doc_id") * mult + F.col("_rep")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" v"), F.col("_rep").cast("string")
            ).alias("text"),
        )

    for mult in DOC_MULTS:
        docs = _docs_at(mult)
        times = []
        n_pairs = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            out = minhash_lsh_pairs(docs)
            n_pairs = out.count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"minhash_x{mult}"] = {
            "iterations": times,
            "min": min(times),
            "n_pairs": n_pairs,
        }
        print(f"minhash x{mult}: {times} pairs={n_pairs}", file=sys.stderr)

    # --- BPE tokenizer (r7): training's only corpus-sized cost is ONE
    # frequency pass (driver merges run on the top-V capped table);
    # encode is narrow memoized mapInPandas. Both walls must track
    # corpus size (exponent ~<= 1) — a superlinear train would mean the
    # frequency pass shuffles occurrences, a superlinear encode would
    # mean the memo stopped absorbing the Zipfian word reuse. ---
    from ct_mapreduce_spark.operators.tokenizer import (
        bpe_train,
        token_counts,
        word_frequencies,
    )

    for mult in (1, 10):
        docs = _docs_at(mult)
        t0 = time.perf_counter()
        merges = bpe_train(word_frequencies(docs, top_v=8192), n_merges=60)
        train_s = round(time.perf_counter() - t0, 2)
        times = []
        total = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            total = (
                token_counts(docs, merges)
                .agg(F.sum("n_bpe_tokens"))
                .collect()[0][0]
            )
            times.append(round(time.perf_counter() - t0, 2))
        results[f"bpe_x{mult}"] = {
            "train_s": train_s,
            "iterations": times,
            "min": min(times),
            "total_tokens": int(total),
        }
        print(
            f"bpe x{mult}: train={train_s} encode={times} tokens={total}",
            file=sys.stderr,
        )

    # --- Unigram LM train+score (r7): training is one map-side-combined
    # token count (vocabulary-sized result, localCheckpointed); scoring
    # is explode -> broadcast model join -> one narrow row per doc
    # through the shuffle. Both walls must track corpus size (exponent
    # ~<= 1); a superlinear rung would mean the model table stopped
    # broadcasting or the score shuffle stopped collapsing map-side. ---
    from ct_mapreduce_spark.operators.lm import lm_score, lm_train_unigram

    for mult in DOC_MULTS:
        docs = _docs_at(mult)
        ref = docs.where(F.col("doc_id") % 5 == 0)
        times = []
        n_scored = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            model = lm_train_unigram(ref, min_count=2)
            n_scored = lm_score(docs, model).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"lm_ppl_x{mult}"] = {
            "iterations": times,
            "min": min(times),
            "n_scored": n_scored,
        }
        print(f"lm_ppl x{mult}: {times} scored={n_scored}", file=sys.stderr)

    # --- Bigram stupid-backoff train+score (r7 late): bigram training
    # adds ONE more map-side-combined pass (pair counts) and a
    # vocabulary-sized context join; scoring adds one more broadcast
    # join over the same single explode. The wall must stay within a
    # small constant of lm_ppl's and track corpus size (exponent ~<= 1);
    # a superlinear rung would mean the kept bigram table outgrew
    # broadcast collapse or the pair shuffle stopped combining. ---
    from ct_mapreduce_spark.operators.lm import (
        lm_score_backoff,
        lm_train_bigram,
    )

    for mult in DOC_MULTS:
        docs = _docs_at(mult)
        ref = docs.where(F.col("doc_id") % 5 == 0)
        times = []
        n_scored = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            uni = lm_train_unigram(ref, min_count=2)
            bi = lm_train_bigram(ref, min_count=2)
            n_scored = lm_score_backoff(docs, uni, bi).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"lm_backoff_x{mult}"] = {
            "iterations": times,
            "min": min(times),
            "n_scored": n_scored,
        }
        print(
            f"lm_backoff x{mult}: {times} scored={n_scored}", file=sys.stderr
        )

    # --- DSIR token-budget selection (r7): the full selection pipeline
    # (weight training vs a 1/5 pseudo-target slice, integer scoring,
    # budget prefix sum keeping ~half the tokens). Every stage is a
    # linear scan + model-sized driver traffic, so the wall must track
    # corpus size (exponent ~<= 1); a superlinear rung would mean the
    # score shuffle stopped collapsing map-side or the prefix sum
    # degenerated into a global window. ---
    from ct_mapreduce_spark.operators.selection import (
        dsir_score,
        dsir_weights,
        select_token_budget,
    )

    for mult in DOC_MULTS:
        docs = _docs_at(mult)
        target = docs.where(F.col("doc_id") % 5 == 0)
        times = []
        n_sel = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            w = dsir_weights(target, docs, n_buckets=4096)
            scored = dsir_score(docs, w, n_buckets=4096)
            frame = (
                docs.select(
                    "doc_id",
                    F.size(F.split(F.trim("text"), r"\s+"))
                    .cast("long")
                    .alias("nt"),
                )
                .join(scored.select("doc_id", "dsir_score_micro"), "doc_id")
                .localCheckpoint(eager=True)
            )
            budget = 150_000 * mult  # ~half the corpus tokens
            n_sel = select_token_budget(
                frame, budget, "dsir_score_micro", count_col="nt"
            ).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"dsir_select_x{mult}"] = {
            "iterations": times,
            "min": min(times),
            "n_selected": n_sel,
        }
        print(
            f"dsir select x{mult}: {times} selected={n_sel}",
            file=sys.stderr,
        )

    # --- keep-list one-shot dedup on a template family (r7): the PAIRS
    # operator's output is quadratic in duplicate-family size (the
    # hot-bucket cap bounds each bucket at C(cap,2) scoring but the
    # family's answer is still decided pair-by-pair); minhash_dedup_keep
    # collapses signature-identical docs to one representative BEFORE
    # the banded tier. Corpus: 5k*mult distinct docs + 5k*mult
    # whitespace variants of ONE page. The keep wall must track corpus
    # size (exponent ~<= 1); the 1x pairs+keep-rule counterfactual shows
    # the bound the collapse removes. ---
    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_dedup_keep

    template = " ".join(f"tok{i} word{i * 7 % 13}" for i in range(60))

    def _template_corpus(mult: int):
        n = 5000 * mult
        fam = spark.range(n).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.concat(
                F.lit(template), F.repeat(F.lit(" "), (F.col("id") % 97 + 1).cast("int"))
            ).alias("text"),
        )
        # sf0.1 documents is exactly 5000 rows, so _docs_at(mult) IS the
        # n-doc distinct half — no limit (a GlobalLimit would serialize
        # the scan through one task and distort the measurement)
        return _docs_at(mult).select("doc_id", "text").unionByName(fam)

    def _template_path(mult: int) -> str:
        # pre-materialized (r12 protocol upgrade): the crossJoin corpus
        # generation used to ride inside the keep wall, flattering the
        # exponent at the bigger rung; parquet-backed inputs measure the
        # operator alone, like the ingest rungs.
        path = f"/tmp/ctspark_soak_keep_x{mult}"
        try:
            spark.read.parquet(path).head(1)
        except Exception:
            _template_corpus(mult).write.mode("overwrite").parquet(path)
        return path

    # x100 rung (r11 verdict task 3): dedup is ~3/4 of every curate e2e
    # wall and the largest keep rung stopped at x10 — confirm the
    # collapse-first keep stays ~linear another decade out.
    for mult in DOC_MULTS + [100]:
        docs = spark.read.parquet(_template_path(mult))
        times = []
        n_keep = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            n_keep = minhash_dedup_keep(docs).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"keep_template_x{mult}"] = {
            "iterations": times,
            "min": min(times),
            "n_keep": n_keep,
        }
        print(f"keep template x{mult}: {times} keep={n_keep}", file=sys.stderr)
    # 1x counterfactual: same corpus through pairs + greatest-drop rule
    # (one iteration — this is the bound being demonstrated, not a path
    # anyone should run on a template-heavy corpus). n_keep is HIGHER
    # here than the keep operator's: the 5000-member family exceeds the
    # 4096 cap, every band ranks the same tail out (rank hash depends on
    # doc_id only), so ~900 family members never pair and escape the
    # drop rule — collapse-first is strictly better recall when the cap
    # binds, besides being ~5x faster.
    docs = _template_corpus(1)
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs)
    drop = (
        pairs.where(F.col("est_jaccard") >= 0.9)
        .select(F.greatest("doc_a", "doc_b").alias("doc_id"))
        .distinct()
    )
    n_keep_cf = docs.select("doc_id").join(drop, "doc_id", "left_anti").count()
    cf_s = round(time.perf_counter() - t0, 2)
    results["keep_template_x1_pairs_counterfactual"] = {
        "wall_s": cf_s,
        "n_keep": n_keep_cf,
    }
    print(
        f"keep template x1 pairs-counterfactual: {cf_s}s keep={n_keep_cf}",
        file=sys.stderr,
    )

    # --- single-pass dup-span stats at 1x/10x docs (r6 reformulation) ---
    from ct_mapreduce_spark.operators.dedup_fuzzy import dup_span_stats

    for mult in DOC_MULTS:
        docs = _docs_at(mult)
        times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            dup_span_stats(docs).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"dupspans_x{mult}"] = {"iterations": times, "min": min(times)}
        print(f"dupspans x{mult}: {times}", file=sys.stderr)

    # --- boilerplate-heavy dup spans (r7 de-skew rung): one shared
    # 8-gram injected into 60% of docs — the hottest-gram case that
    # funneled into a single window partition before the groupBy+join
    # form; wall must track corpus size, not the hot gram's frequency ---
    boiler = "all rights reserved worldwide by the example corporation "
    for mult in DOC_MULTS:
        docs = _docs_at(mult).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 < 3, F.concat(F.lit(boiler), F.col("text"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            dup_span_stats(docs).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"dupspans_boiler_x{mult}"] = {
            "iterations": times,
            "min": min(times),
        }
        print(f"dupspans boiler x{mult}: {times}", file=sys.stderr)

    # --- duplicate-passage REMOVAL on the same boilerplate-heavy corpus:
    # the hot gram's occurrences all flag, so the coverage explode and the
    # (doc_id, pos) anti-join carry the boilerplate fraction of corpus
    # tokens; wall must stay LINEAR in corpus size with the hot gram in
    # 60% of docs (no window anywhere in the plan) ---
    from ct_mapreduce_spark.operators.dedup_fuzzy import remove_dup_spans

    for mult in DOC_MULTS:
        docs = _docs_at(mult).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 < 3, F.concat(F.lit(boiler), F.col("text"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            remove_dup_spans(docs).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"rmspans_boiler_x{mult}"] = {
            "iterations": times,
            "min": min(times),
        }
        print(f"rmspans boiler x{mult}: {times}", file=sys.stderr)

    # --- incremental dedup serve path: index build 1x/10x, probes with a
    # FIXED batch — probe wall must track the touched-partition bytes (the
    # bounded pfx IN-list), never the full index ---
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        minhash_index_build,
        minhash_probe_index,
    )

    small_batch = base_docs.where(F.col("doc_id") < 8).select("doc_id", "text")
    big_batch = base_docs.where(F.col("doc_id") < 500).select("doc_id", "text")
    # zero-match probe (r12): the small8/big500 batches are drawn from
    # the corpus, so on the REPLICATED x-mult fixtures their candidate
    # families grow with mult and the probe wall conflates index size
    # with output volume. A batch of novel docs matches nothing — its
    # wall is the pure index-size cost (signatures + bucket join against
    # touched partitions), the quantity the flatness claim is about.
    novel_batch = (
        spark.range(500)
        .select(
            (F.col("id") + 90_000_000).alias("doc_id"),
            F.concat(
                F.lit("novelprobe "),
                F.md5(F.col("id").cast("string")),
                F.lit(" "),
                F.md5((F.col("id") + 1).cast("string")),
                F.lit(" "),
                F.md5((F.col("id") + 2).cast("string")),
            ).alias("text"),
        )
    )

    def _mhcorpus_path(mult: int) -> str:
        # pre-materialized like the keep rungs (r12): build walls
        # measure the index build, not the crossJoin corpus generation
        path = f"/tmp/ctspark_soak_mhcorpus_x{mult}"
        try:
            spark.read.parquet(path).head(1)
        except Exception:
            _docs_at(mult).where(F.col("doc_id") % 10 != 0).select(
                "doc_id", "text"
            ).write.mode("overwrite").parquet(path)
        return path

    # x100 rung (r11 verdict task 3): the incremental-probe flatness
    # claim held to x10; confirm probe cost still tracks the touched
    # partitions, not the index, another decade out.
    for mult in DOC_MULTS + [100]:
        idx = tempfile.mkdtemp(prefix=f"ctspark_soak_mhidx_x{mult}_")
        corpus_df = spark.read.parquet(_mhcorpus_path(mult))
        t0 = time.perf_counter()
        minhash_index_build(corpus_df, idx)
        build_s = round(time.perf_counter() - t0, 2)
        entry = {"build_s": build_s}
        for label, batch in (
            ("small8", small_batch),
            ("big500", big_batch),
            ("novel500", novel_batch),
        ):
            probe_times = []
            n_pairs = None
            for _ in range(ITERATIONS):
                t0 = time.perf_counter()
                probed = minhash_probe_index(spark, idx, batch)
                n_pairs = probed.count()
                probe_times.append(round(time.perf_counter() - t0, 2))
            plan = probed._jdf.queryExecution().executedPlan().toString()
            assert any(
                "PartitionFilters: [pfx" in l for l in plan.splitlines()
            ), f"mhidx x{mult} {label}: probe scan not pfx-pruned"
            entry[f"probe_{label}"] = {
                "iterations": probe_times,
                "min": min(probe_times),
                "n_pairs": n_pairs,
            }
        results[f"mhidx_x{mult}"] = entry
        print(f"mhidx x{mult}: {entry}", file=sys.stderr)
        shutil.rmtree(idx, ignore_errors=True)

    # --- ANN serve path: build once, probe with partition pruning ---
    from ct_mapreduce_spark.operators import similarity

    def _emb_path(mult: int) -> str:
        path = f"/tmp/ctspark_soak_emb_x{mult}"
        try:
            spark.read.parquet(path).head(1)
        except Exception:
            base = load_table(spark, "embeddings", "/root/testdata/sf0.1")
            if mult == 1:
                scaled = base
            else:
                reps = spark.range(mult).withColumnRenamed("id", "_rep")
                # perturb each replica so vectors are distinct (JVM-side)
                scaled = base.crossJoin(reps).select(
                    (F.col("vec_id") * mult + F.col("_rep")).alias("vec_id"),
                    F.transform(
                        "embedding",
                        lambda x: (
                            x + (F.col("_rep") % 97).cast("float") * F.lit(1e-4)
                        ).cast("float"),
                    ).alias("embedding"),
                )
            scaled.write.mode("overwrite").parquet(path)
        return path

    for mult in EMB_MULTS:
        emb = spark.read.parquet(_emb_path(mult))
        n_rows = emb.count()
        idx = tempfile.mkdtemp(prefix=f"ctspark_soak_ivf_x{mult}_")
        t0 = time.perf_counter()
        similarity.ivf_build_index(emb, idx)
        build_s = round(time.perf_counter() - t0, 2)

        queries = emb.where(F.col("vec_id") < 8)
        probe_times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            served = similarity.ivf_topk_indexed(spark, idx, queries, k=5)
            served.count()
            probe_times.append(round(time.perf_counter() - t0, 2))
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, f"x{mult}: probe scan not pruned"

        # probed fraction: rows in the probed cells / corpus rows — the
        # quantity that must track n_probe/n_cells (0.25), not corpus size
        cents = spark.read.parquet(idx + "/_centroids")
        qa = similarity._assign_probes(
            queries, cents, "vec_id", "embedding", "query", 4
        )
        probe_cells = {r["cell"] for r in qa.select("cell").distinct().collect()}
        probed_rows = (
            spark.read.parquet(idx)
            .where(F.col("cell").isin(sorted(probe_cells)))
            .count()
        )
        results[f"ann_x{mult}"] = {
            "rows": n_rows,
            "build_s": build_s,
            "probe_iterations": probe_times,
            "probe_min": min(probe_times),
            "probed_fraction": round(probed_rows / n_rows, 3),
            "n_probe_cells": len(probe_cells),
        }
        print(
            f"ann x{mult}: build={build_s}s probe={probe_times} "
            f"frac={probed_rows}/{n_rows}",
            file=sys.stderr,
        )
        shutil.rmtree(idx, ignore_errors=True)

    # --- Prototype pruning (r7 late): scoring is narrow (literal
    # centroids, no shuffle) and the only data shuffle is the rank
    # window over cells whose size the auto-n_cells rule holds constant
    # (~target_cell_size). The wall must track corpus size (exponent
    # ~<= 1) with auto cells; a superlinear rung would mean cell
    # partitions grew with the corpus (the fixed-n_cells failure
    # SemDeDup's soak demonstrates). ---
    for mult in EMB_MULTS:
        emb = spark.read.parquet(_emb_path(mult))
        n_rows = emb.count()
        times = []
        n_kept = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            n_kept = similarity.prototype_prune(emb, keep_frac=0.5).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"proto_prune_x{mult}"] = {
            "rows": n_rows,
            "iterations": times,
            "min": min(times),
            "n_kept": n_kept,
        }
        print(
            f"proto_prune x{mult}: {times} kept={n_kept}/{n_rows}",
            file=sys.stderr,
        )

    # --- SemDeDup at 10x embeddings: fixed n_cells (cells grow 10x ->
    # in-cell pair work grows ~100x) vs n_cells scaled with the corpus
    # (the published posture: hold CELL SIZE constant, not cell count) ---
    from ct_mapreduce_spark.operators.similarity import semdedup_pairs

    emb10 = spark.read.parquet(_emb_path(10))
    # "auto" = n_cells=None (the r7 default): must track the scaled
    # posture (cells160), not the fixed-16 degradation
    for label, n_cells in (("cells16", 16), ("cells160", 160), ("auto", None)):
        times = []
        n_pairs = None
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            n_pairs = semdedup_pairs(emb10, n_cells=n_cells).count()
            times.append(round(time.perf_counter() - t0, 2))
        results[f"semdedup_x10_{label}"] = {
            "iterations": times,
            "min": min(times),
            "n_pairs": n_pairs,
        }
        print(f"semdedup x10 {label}: {times} pairs={n_pairs}", file=sys.stderr)

    # 100x build with n_cells=128 (> interpreted budget / dim): the
    # vectorized Arrow-matmul assignment tier under corpus-scale load
    emb = spark.read.parquet(_emb_path(100))
    idx = tempfile.mkdtemp(prefix="ctspark_soak_ivf_c128_")
    t0 = time.perf_counter()
    similarity.ivf_build_index(emb, idx, n_cells=128)
    results["ann_x100_cells128_build_s"] = round(time.perf_counter() - t0, 2)
    print(
        f"ann x100 n_cells=128 build={results['ann_x100_cells128_build_s']}s",
        file=sys.stderr,
    )
    shutil.rmtree(idx, ignore_errors=True)

    # --- IVF index lifecycle (r7): a long-lived store under a steady
    # append cadence. 12 clustered appends over a 16-cell index add
    # <= 16 files each (the counterfactual unclustered append writes
    # tasks x cells slivers — 32-shuffle-partition tasks -> up to 512
    # per batch); ivf_index_compact folds the history back to one file
    # per cell with the probe bit-identical (pytest owns equality, this
    # rung owns the walls/file counts). ---
    from ct_mapreduce_spark.fsutil import count_parquet_files

    emb10 = spark.read.parquet(_emb_path(10))
    idx = tempfile.mkdtemp(prefix="ctspark_soak_ivf_life_")
    n_slices = 13  # slice 0 builds, 1..12 append
    sliced = [emb10.where(F.col("vec_id") % n_slices == i) for i in range(n_slices)]
    similarity.ivf_build_index(sliced[0], idx)
    t0 = time.perf_counter()
    for part in sliced[1:]:
        similarity.ivf_index_append(part, idx)
    append_s = round(time.perf_counter() - t0, 2)
    files_appended = count_parquet_files(spark, idx)
    queries = emb10.where(F.col("vec_id") < 8)

    def _probe_min() -> float:
        times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            similarity.ivf_topk_indexed(spark, idx, queries, k=5).count()
            times.append(round(time.perf_counter() - t0, 2))
        return min(times)

    probe_frag = _probe_min()
    t0 = time.perf_counter()
    files_before, files_after = similarity.ivf_index_compact(spark, idx)
    compact_s = round(time.perf_counter() - t0, 2)
    probe_compact = _probe_min()
    results["ivf_lifecycle_x10"] = {
        "appends": n_slices - 1,
        "append_total_s": append_s,
        "files_after_appends": files_appended,
        "probe_min_fragmented": probe_frag,
        "compact_s": compact_s,
        "files_compacted": [files_before, files_after],
        "probe_min_compacted": probe_compact,
    }
    print(
        f"ivf lifecycle x10: {n_slices - 1} appends -> {files_appended} files, "
        f"probe {probe_frag}s; compact {compact_s}s -> {files_after} files, "
        f"probe {probe_compact}s",
        file=sys.stderr,
    )
    shutil.rmtree(idx, ignore_errors=True)

    # --- PQ serve path (r7): materialized codes table vs inline
    # re-estimate+re-encode at 10x. The indexed probe's only corpus-
    # sized read is the 8-bytes-per-row codes scan; the inline path
    # pays the Arrow encode of the full vector corpus per call — the
    # gap is the encode cost and widens with corpus size. ---
    emb10 = spark.read.parquet(_emb_path(10))
    pq_idx = tempfile.mkdtemp(prefix="ctspark_soak_pq_")
    queries = emb10.where(F.col("vec_id") < 8)
    t0 = time.perf_counter()
    similarity.pq_build_index(emb10, pq_idx)
    pq_build_s = round(time.perf_counter() - t0, 2)

    def _mn(f):
        ts = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            f().count()
            ts.append(round(time.perf_counter() - t0, 2))
        return ts

    results["pq_serve_x10"] = {
        "build_s": pq_build_s,
        "inline": _mn(lambda: similarity.pq_topk(emb10, queries, k=5)),
        "indexed": _mn(
            lambda: similarity.pq_topk_indexed(spark, pq_idx, queries, k=5)
        ),
    }
    print(f"pq serve x10: {results['pq_serve_x10']}", file=sys.stderr)
    shutil.rmtree(pq_idx, ignore_errors=True)

    # --- IVF-PQ serve path (r8): the cell-pruned composition. Build at
    # 1x/10x/100x with n_cells scaled so cell size stays constant, probe
    # with n_probe=4; probe wall must stay ~flat (exponent ~0 like the
    # plain IVF store) because the ADC scan reads only the probed cells'
    # 8-bytes-per-row codes — the multiplied pruning neither the flat PQ
    # index (full codes scan) nor raw IVF (full vectors in probed cells)
    # gets. PartitionFilters asserted on the executed plan per rung. ---
    for mult in EMB_MULTS:
        emb = spark.read.parquet(_emb_path(mult))
        n_rows = emb.count()
        n_cells = max(16, n_rows // 512)
        pqivf = tempfile.mkdtemp(prefix=f"ctspark_soak_pqivf_x{mult}_")
        t0 = time.perf_counter()
        similarity.pq_ivf_build_index(emb, pqivf, n_cells=n_cells)
        build_s = round(time.perf_counter() - t0, 2)
        queries = emb.where(F.col("vec_id") < 8)
        probe_times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            served = similarity.pq_ivf_topk_indexed(
                spark, pqivf, queries, k=5, n_probe=4
            )
            served.count()
            probe_times.append(round(time.perf_counter() - t0, 2))
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan, f"x{mult}: codes scan not pruned"
        results[f"pqivf_probe_x{mult}"] = {
            "rows": n_rows,
            "n_cells": n_cells,
            "build_s": build_s,
            "probes": probe_times,
            "min": min(probe_times),
        }
        print(
            f"pqivf x{mult}: rows={n_rows} cells={n_cells} "
            f"build={build_s}s probes={probe_times}",
            file=sys.stderr,
        )
        shutil.rmtree(pqivf, ignore_errors=True)

    # --- IVF-PQ ABOVE the driver-model budget (r12, r11 verdict task 1):
    # n_cells > _DRIVER_MODEL_CELL_BUDGET at the REAL budget (no
    # monkeypatch) — build and probe route through the two-level tier.
    # Gates: the driver's model copy stays sqrt-sized (recorded +
    # asserted), PartitionFilters still prunes the codes scan, and the
    # probe wall stays in the x100 rung's regime (the serve cost is the
    # probed cells' 8-byte codes either way). ---
    import math as _math

    emb = spark.read.parquet(_emb_path(EMB_MULTS[-1]))
    n_rows = emb.count()
    n_cells_ob = max(similarity._DRIVER_MODEL_CELL_BUDGET + 1, n_rows // 128)
    pqivf = tempfile.mkdtemp(prefix="ctspark_soak_pqivf_ob_")
    t0 = time.perf_counter()
    similarity.pq_ivf_build_index(emb, pqivf, n_cells=n_cells_ob)
    build_s = round(time.perf_counter() - t0, 2)
    build_model_rows = similarity._LAST_DRIVER_MODEL_ROWS
    queries = emb.where(F.col("vec_id") < 8)
    probe_times = []
    for _ in range(ITERATIONS):
        t0 = time.perf_counter()
        served = similarity.pq_ivf_topk_indexed(
            spark, pqivf, queries, k=5, n_probe=4
        )
        served.count()
        probe_times.append(round(time.perf_counter() - t0, 2))
    probe_model_rows = similarity._LAST_DRIVER_MODEL_ROWS
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, "over-budget codes scan not pruned"
    sqrt_cap = max(16, _math.isqrt(n_cells_ob))
    assert build_model_rows <= sqrt_cap, (build_model_rows, sqrt_cap)
    assert probe_model_rows <= sqrt_cap, (probe_model_rows, sqrt_cap)
    results["pqivf_probe_x100_overbudget"] = {
        "rows": n_rows,
        "n_cells": n_cells_ob,
        "build_s": build_s,
        "driver_model_rows": probe_model_rows,
        "probes": probe_times,
        "min": min(probe_times),
    }
    print(
        f"pqivf x100 over-budget: rows={n_rows} cells={n_cells_ob} "
        f"model_rows={probe_model_rows} build={build_s}s probes={probe_times}",
        file=sys.stderr,
    )
    shutil.rmtree(pqivf, ignore_errors=True)

    # --- e2e curation pipeline, two drops, 1x/10x crawl (r7): drop 1
    # builds the index from a fresh crawl; drop 2 re-crawls the same
    # pages (new record ids => new doc_ids, same content) and must dedup
    # to zero through the persistent index. Wall per drop must track
    # crawl size; the 10x/1x exponent is the pipeline's honest scaling
    # number (fixed job setup dominates at 1x). ---
    import gzip as _gzip
    import os as _os

    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources.text_source import (
        encode_warc,
        synthetic_html_body,
    )

    def _crawl_path(mult: int, tag: str) -> str:
        path = f"/tmp/ctspark_soak_crawl_x{mult}_{tag}"
        n_seg, per = 8 * mult, 250
        if not _os.path.exists(f"{path}/seg-{n_seg - 1:03d}.warc.gz"):
            _os.makedirs(path, exist_ok=True)
            for seg in range(n_seg):
                recs = [
                    {
                        "warc_type": "response",
                        "url": f"https://crawl.example/page/{seg * per + i}",
                        "date": "2026-01-01T00:00:00Z",
                        "record_id": f"<urn:uuid:{tag}{seg * per + i:07d}>",
                        "content_type": "application/http; msgtype=response",
                        "body": synthetic_html_body(seg * per + i),
                    }
                    for i in range(per)
                ]
                payload = encode_warc(recs)
                with open(f"{path}/seg-{seg:03d}.warc.gz", "wb") as f:
                    f.write(_gzip.compress(payload))
        return path

    for mult in DOC_MULTS:
        wd = tempfile.mkdtemp(prefix=f"ctspark_soak_curate_x{mult}_")
        t0 = time.perf_counter()
        s1 = curate_crawl(spark, _crawl_path(mult, "a"), wd)
        drop1_s = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        s2 = curate_crawl(spark, _crawl_path(mult, "b"), wd)
        drop2_s = round(time.perf_counter() - t0, 2)
        assert s2["after_dedup"] == 0, f"re-crawl not fully deduped: {s2}"
        results[f"curate_x{mult}"] = {
            "drop1_s": drop1_s,
            "drop2_s": drop2_s,
            "extracted": s1["extracted"],
            "drop1_kept": s1["after_dedup"],
        }
        print(
            f"curate x{mult}: drop1={drop1_s}s drop2={drop2_s}s "
            f"kept={s1['after_dedup']}/{s1['extracted']}",
            file=sys.stderr,
        )
        shutil.rmtree(wd, ignore_errors=True)

    # --- streaming daemon posture (r7): 20 sequential micro-batches
    # through the daemon body (incremental_dedup_keep + keep +
    # write_postings) against a GROWING index. Per-batch wall must stay
    # flat — each trigger pays O(batch) signature work plus bounded
    # store reads, and the index growing 20x must not show up in the
    # wall. 10% of each batch re-sends batch 0's content (exact tier
    # exercised every trigger); kept counts verify the dedup kept
    # working. ---
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        incremental_dedup_keep,
        minhash_signatures,
    )
    from ct_mapreduce_spark.operators.util import fan_out
    from ct_mapreduce_spark.streaming.dedup_stream import write_postings

    idxd = tempfile.mkdtemp(prefix="ctspark_soak_daemon_")
    batch_walls = []
    kept_counts = []
    for b in range(20):
        # batch b = its own disjoint slice of the corpus (genuinely new
        # text), plus re-sends of a fixed slice-0 subset under fresh ids
        fresh = base_docs.where(F.col("doc_id") % 20 == b).select(
            (F.col("doc_id") * 100 + b).alias("doc_id"), "text"
        )
        if b > 0:
            resend = base_docs.where(
                (F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 100 == 0)
            ).select((F.col("doc_id") * 100 + 50 + b).alias("doc_id"), "text")
            fresh = fresh.unionByName(resend)
        t0 = time.perf_counter()
        batch = fresh.localCheckpoint(eager=True)
        bsigs = minhash_signatures(fan_out(batch)).localCheckpoint(eager=True)
        kept = incremental_dedup_keep(spark, idxd, batch, sigs=bsigs)
        ksigs = bsigs.join(kept.select("doc_id"), "doc_id", "left_semi")
        write_postings(kept, idxd, batch_tag=str(b), sigs=ksigs)
        batch_walls.append(round(time.perf_counter() - t0, 2))
        kept_counts.append(kept.count())
        if b > 0:  # every re-send must be deduped away (resend-id residue)
            n_resent_kept = kept.where(
                F.col("doc_id") % 100 == 50 + b
            ).count()
            assert n_resent_kept == 0, (b, n_resent_kept)
    # the wall GROWS with batch count (each trigger adds ~one file per
    # pfx per store, and partition discovery + file opens are per-probe
    # costs) — compaction is the lifecycle answer; measure it restoring
    # the wall, then two more batches at the restored level
    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_index_compact

    t0 = time.perf_counter()
    minhash_index_compact(spark, idxd)
    compact_s = round(time.perf_counter() - t0, 2)
    post_walls = []
    for b in (20, 21):
        fresh = base_docs.where(F.col("doc_id") % 20 == b % 20).select(
            (F.col("doc_id") * 10000 + b).alias("doc_id"), "text"
        )
        t0 = time.perf_counter()
        batch = fresh.localCheckpoint(eager=True)
        bsigs = minhash_signatures(fan_out(batch)).localCheckpoint(eager=True)
        kept = incremental_dedup_keep(spark, idxd, batch, sigs=bsigs)
        ksigs = bsigs.join(kept.select("doc_id"), "doc_id", "left_semi")
        write_postings(kept, idxd, batch_tag=str(b), sigs=ksigs)
        post_walls.append(round(time.perf_counter() - t0, 2))
    results["daemon_20_batches"] = {
        "walls": batch_walls,
        "kept_counts": kept_counts,
        "wall_first3_avg": round(sum(batch_walls[1:4]) / 3, 2),
        "wall_last3_avg": round(sum(batch_walls[-3:]) / 3, 2),
        "compact_s": compact_s,
        "post_compact_walls": post_walls,
    }
    print(
        f"daemon 20 batches: walls={batch_walls} kept={kept_counts} "
        f"compact={compact_s}s post={post_walls}",
        file=sys.stderr,
    )
    shutil.rmtree(idxd, ignore_errors=True)

    # --- r8: the same 20-batch posture with AUTO-compaction (the
    # daemon's compact_every hook): whenever the banded increment tree
    # holds >= 6 batch partitions, fold the committed ones from INSIDE
    # the loop, excluding the in-flight tag — exactly what
    # start_dedup_stream(compact_every=6) does per trigger. The
    # per-batch wall (inclusive of in-band compaction cost) must stay
    # bounded instead of drifting with accumulated partitions. ---
    import os as _os

    idxa = tempfile.mkdtemp(prefix="ctspark_soak_daemon_auto_")
    auto_walls = []
    auto_kept = []
    n_compactions = 0
    for b in range(20):
        fresh = base_docs.where(F.col("doc_id") % 20 == b).select(
            (F.col("doc_id") * 100 + b).alias("doc_id"), "text"
        )
        if b > 0:
            resend = base_docs.where(
                (F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 100 == 0)
            ).select((F.col("doc_id") * 100 + 50 + b).alias("doc_id"), "text")
            fresh = fresh.unionByName(resend)
        t0 = time.perf_counter()
        batch = fresh.localCheckpoint(eager=True)
        bsigs = minhash_signatures(fan_out(batch)).localCheckpoint(eager=True)
        kept = incremental_dedup_keep(spark, idxa, batch, sigs=bsigs)
        ksigs = bsigs.join(kept.select("doc_id"), "doc_id", "left_semi")
        write_postings(kept, idxa, batch_tag=str(b), sigs=ksigs)
        inc_p = idxa + "/banded_inc"
        n_inc = (
            len(
                [
                    n
                    for n in _os.listdir(inc_p)
                    if n.startswith("ingest_batch=")
                ]
            )
            if _os.path.isdir(inc_p)
            else 0
        )
        if n_inc >= 6:
            minhash_index_compact(spark, idxa, exclude_tags={str(b)})
            n_compactions += 1
        auto_walls.append(round(time.perf_counter() - t0, 2))
        auto_kept.append(kept.count())
        if b > 0:
            n_resent_kept = kept.where(
                F.col("doc_id") % 100 == 50 + b
            ).count()
            assert n_resent_kept == 0, ("auto", b, n_resent_kept)
    results["daemon_20_batches_autocompact"] = {
        "walls": auto_walls,
        "kept_counts": auto_kept,
        "n_compactions": n_compactions,
        "wall_first3_avg": round(sum(auto_walls[1:4]) / 3, 2),
        "wall_last3_avg": round(sum(auto_walls[-3:]) / 3, 2),
    }
    print(
        f"daemon 20 batches AUTO-compact: walls={auto_walls} "
        f"compactions={n_compactions} kept={auto_kept}",
        file=sys.stderr,
    )
    assert auto_kept == kept_counts, (auto_kept, kept_counts)
    shutil.rmtree(idxa, ignore_errors=True)

    # --- r9: the PQ-IVF daemon posture — 20 sequential micro-batches of
    # write_codes (encode under the stored model, increment-tree write)
    # with IN-BAND auto-compaction at cadence 6 (pq_ivf_index_compact
    # exclude_tags={in-flight}) against a growing codes store. Per-batch
    # wall must stay bounded (each trigger pays O(batch) encode plus a
    # bounded-partition fold), and the final served top-k must equal a
    # batch-append control over the same vectors — the serving index of
    # record stays fresh AND correct under the daemon contract. ---
    from ct_mapreduce_spark.streaming.ann_stream import write_codes

    emb10 = spark.read.parquet(_emb_path(10))
    pq_base = emb10.where(F.col("vec_id") % 21 == 20)
    pq_batches = [emb10.where(F.col("vec_id") % 21 == m) for m in range(20)]
    pqd = tempfile.mkdtemp(prefix="ctspark_soak_pqdaemon_")
    n_rows10 = emb10.count()
    similarity.pq_ivf_build_index(
        pq_base, pqd, n_cells=max(16, n_rows10 // 512)
    )
    pqd_walls = []
    pqd_compactions = 0
    for b, part in enumerate(pq_batches):
        t0 = time.perf_counter()
        write_codes(part, pqd, batch_tag=str(b))
        inc_p = pqd + "/codes/_inc"
        n_inc = (
            len(
                [
                    n
                    for n in _os.listdir(inc_p)
                    if n.startswith("ingest_batch=")
                ]
            )
            if _os.path.isdir(inc_p)
            else 0
        )
        if n_inc >= 6:
            similarity.pq_ivf_index_compact(spark, pqd, exclude_tags={str(b)})
            pqd_compactions += 1
        pqd_walls.append(round(time.perf_counter() - t0, 2))
    queries = emb10.where(F.col("vec_id") < 8)
    got = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, pqd, queries, k=5
        ).collect()
    )
    pqc = tempfile.mkdtemp(prefix="ctspark_soak_pqdaemon_ctl_")
    similarity.pq_ivf_build_index(
        pq_base, pqc, n_cells=max(16, n_rows10 // 512)
    )
    for part in pq_batches:
        similarity.pq_ivf_index_append(part, pqc)
    want = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, pqc, queries, k=5
        ).collect()
    )
    assert got == want, "pq daemon soak: served top-k != batch-append control"
    results["pq_daemon_20_batches_autocompact"] = {
        "walls": pqd_walls,
        "n_compactions": pqd_compactions,
        "wall_first3_avg": round(sum(pqd_walls[1:4]) / 3, 2),
        "wall_last3_avg": round(sum(pqd_walls[-3:]) / 3, 2),
    }
    print(
        f"pq daemon 20 batches AUTO-compact: walls={pqd_walls} "
        f"compactions={pqd_compactions} probe==control: ok",
        file=sys.stderr,
    )
    shutil.rmtree(pqd, ignore_errors=True)
    shutil.rmtree(pqc, ignore_errors=True)

    # --- r9: cluster-balanced sampling at 10x/100x with auto-scaled
    # cells (the semdedup posture): wall must track the narrow argmin
    # assignment + one count per cell (exponent ≲ linear, no corpus
    # shuffle), and the kept mixture must stay ~flat across cells at
    # every scale (that's the operator's contract). ---
    for mult in EMB_MULTS[1:]:
        emb = spark.read.parquet(_emb_path(mult))
        n_rows = emb.count()
        n_cells = max(16, n_rows // 512)
        times = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            kept = similarity.cluster_balanced_sample(emb, n_cells=n_cells)
            kept.count()
            times.append(round(time.perf_counter() - t0, 2))
        per_cell = (
            kept.groupBy("cell").count().select("count").collect()
        )
        counts = sorted(r["count"] for r in per_cell)
        ratio = round(max(counts) / max(min(counts), 1), 2)
        # input skew under the same assignment, for the flattening factor
        cents = similarity._ivf_centroid_frame(
            emb, n_cells, "vec_id", "embedding", 42
        )
        in_counts = sorted(
            r["count"]
            for r in similarity._assign_nearest(
                emb, cents.collect(), "vec_id", "embedding", "v"
            )
            .groupBy("cell")
            .count()
            .collect()
        )
        in_ratio = round(max(in_counts) / max(min(in_counts), 1), 2)
        # flatness contract is on EXPECTED shares (hash granularity means
        # per-cell kept counts are ~binomial around min(n_s); max/min over
        # hundreds of small binomials is noisy by construction — the x100
        # rung measured 6.3 from that noise alone). The scale guard is
        # therefore: the rebalance must FLATTEN (kept spread well under
        # the input spread) and the bulk must be tight (p90/p10 small).
        p10, p90 = (
            counts[len(counts) // 10],
            counts[(len(counts) * 9) // 10],
        )
        bulk = round(p90 / max(p10, 1), 2)
        assert ratio <= max(4.0, 0.5 * in_ratio), (
            f"x{mult}: mixture not flattened (kept ratio {ratio} vs "
            f"input {in_ratio})"
        )
        assert bulk <= 2.5, f"x{mult}: bulk mixture not flat (p90/p10 {bulk})"
        results[f"cbs_x{mult}"] = {
            "rows": n_rows,
            "n_cells": n_cells,
            "times": times,
            "min": min(times),
            "mixture_max_over_min": ratio,
            "input_max_over_min": in_ratio,
            "mixture_p90_over_p10": bulk,
        }
        print(
            f"cluster_balanced_sample x{mult}: rows={n_rows} "
            f"cells={n_cells} times={times} kept_ratio={ratio} "
            f"input_ratio={in_ratio} p90/p10={bulk}",
            file=sys.stderr,
        )

    # --- r9: the FULL curate stack (decontamination + PII redaction ON
    # — what a real drop runs) at 1x/10x, two drops each: drop 1 builds
    # the mh_index AND the eval-gram dictionary; drop 2 must REUSE the
    # persisted dictionary byte-identically (scanned-once discipline)
    # while still dropping a re-leak. Planted contamination: the eval
    # suite is the extracted text of 5 crawl pages, so those pages (and
    # only those) exceed the containment threshold. Stage walls recorded
    # from the r9 stage_walls instrumentation. ---
    import json as _json

    from ct_mapreduce_spark.operators.text import html_to_text
    from ct_mapreduce_spark.sources.text_source import read_warc

    for mult in DOC_MULTS:
        wd = tempfile.mkdtemp(prefix=f"ctspark_soak_curatefull_x{mult}_")
        suite_dir = _os.path.join(wd, "suite")
        _os.makedirs(suite_dir)
        raw = read_warc(spark, _crawl_path(mult, "a")).where(
            F.col("warc_type") == "response"
        )
        from ct_mapreduce_spark.operators.text import strip_http_headers

        leak_rows = (
            raw.select(html_to_text(strip_http_headers(F.col("body"))).alias("text"))
            .where(F.length("text") > 100)
            .limit(5)
            .collect()
        )
        with open(_os.path.join(suite_dir, "bench.jsonl"), "w") as f:
            for i, r in enumerate(leak_rows):
                f.write(_json.dumps({"doc_id": i, "text": r["text"]}) + "\n")
        t0 = time.perf_counter()
        s1 = curate_crawl(
            spark,
            _crawl_path(mult, "a"),
            wd,
            eval_suite=suite_dir,
            pii_redact=True,
        )
        drop1_s = round(time.perf_counter() - t0, 2)
        grams_dir = _os.path.join(wd, "eval_grams")
        dict_files = sorted(_os.listdir(grams_dir))
        pre = s1.get("after_lm", s1["quality_survivors"])
        assert s1["after_decontam"] <= pre - 5, f"x{mult}: leaks kept: {s1}"
        t0 = time.perf_counter()
        s2 = curate_crawl(
            spark,
            _crawl_path(mult, "b"),
            wd,
            eval_suite=suite_dir,
            pii_redact=True,
        )
        drop2_s = round(time.perf_counter() - t0, 2)
        assert sorted(_os.listdir(grams_dir)) == dict_files, (
            f"x{mult}: eval-gram dictionary rebuilt instead of reused"
        )
        assert s2["after_dedup"] == 0, f"x{mult}: re-crawl not deduped: {s2}"
        results[f"curate_full_x{mult}"] = {
            "drop1_s": drop1_s,
            "drop2_s": drop2_s,
            "extracted": s1["extracted"],
            "drop1_kept": s1["after_dedup"],
            "drop1_stage_walls": s1["stage_walls"],
            "drop2_stage_walls": s2["stage_walls"],
        }
        print(
            f"curate FULL x{mult}: drop1={drop1_s}s drop2={drop2_s}s "
            f"stage_walls(drop1)={s1['stage_walls']}",
            file=sys.stderr,
        )
        shutil.rmtree(wd, ignore_errors=True)

    # --- r10: two-level quantizer tier — the driver's centroid-model
    # copy must grow SUBLINEARLY while the cell count grows linearly
    # with the corpus (the r9 verdict's flagged asymptote: auto
    # n_cells ~ rows/128 made the one-level model corpus-scale driver
    # traffic). The budget is forced low so both rungs run the
    # two-level tier (the boundary itself is a config constant; the
    # rung measures scaling WITHIN the tier). Asserted: driver model
    # rows exponent <= 0.6 (sqrt posture = 0.5), one output row per
    # input row, wall exponent <= ~linear. ---
    from ct_mapreduce_spark.operators import similarity as _sim

    _budget_saved = _sim._DRIVER_MODEL_CELL_BUDGET
    _sim._DRIVER_MODEL_CELL_BUDGET = 16
    try:
        for mult in EMB_MULTS:
            emb = spark.read.parquet(_emb_path(mult))
            n_rows = emb.count()
            n_cells = max(16, n_rows // 128)
            cents = _sim._ivf_centroid_frame(
                emb, n_cells, "vec_id", "embedding", 42
            )
            times = []
            for _ in range(ITERATIONS):
                t0 = time.perf_counter()
                assigned = _sim._two_level_assign(
                    emb, cents, n_cells, "vec_id", "embedding", "m"
                )
                out_rows = assigned.count()
                times.append(round(time.perf_counter() - t0, 2))
            assert out_rows == n_rows, (mult, out_rows, n_rows)
            entry = {
                "rows": n_rows,
                "n_cells": n_cells,
                "driver_model_rows": _sim._LAST_DRIVER_MODEL_ROWS,
                "times": times,
                "min": min(times),
            }
            # r11 (r10 verdict task 5): default-probe AGREEMENT vs the
            # one-level tier at soak scale — the pytest gates >=0.9 only
            # at toy size. Distributed count-of-matches join; the only
            # driver copy is the control's centroid collect (bounded:
            # n_cells <= rows/128 at these rungs).
            if mult >= 10:
                one = _sim._assign_nearest(
                    emb, cents.collect(), "vec_id", "embedding", "o",
                    vectorize=True,
                ).select(F.col("o_id").alias("rid"), F.col("cell").alias("ocell"))
                two = assigned.select(
                    F.col("m_id").alias("rid"), F.col("cell").alias("tcell")
                )
                agree = (
                    one.join(two, "rid")
                    .where(F.col("ocell") == F.col("tcell"))
                    .count()
                    / n_rows
                )
                entry["default_probe_agreement"] = round(agree, 4)
                assert agree >= 0.9, (mult, agree)
            results[f"twolevel_x{mult}"] = entry
            print(
                f"two-level x{mult}: rows={n_rows} cells={n_cells} "
                f"driver_model_rows={_sim._LAST_DRIVER_MODEL_ROWS} "
                f"times={times} "
                f"agree={entry.get('default_probe_agreement')}",
                file=sys.stderr,
            )

        # r11 e2e rung: the two consumers that auto-route through the
        # tier above the cell budget — semdedup keep-list and
        # cluster-balanced sampling at x100 (forced budget: auto
        # n_cells ~1.5k >> 16). Dispatch is decided at plan-BUILD time,
        # so the tier frames are constructed here and the one-level
        # controls after the budget is restored; overlap is a
        # distributed join, no corpus collect. Recall-style gate: the
        # tier's kept set must overlap the control's (Jaccard >= 0.75 —
        # ~90% assignment agreement compounds with per-cell hash-rank
        # keep decisions).
        emb_big = spark.read.parquet(_emb_path(EMB_MULTS[-1]))
        big_rows = emb_big.count()
        big_cells = max(16, big_rows // 128)
        t0 = time.perf_counter()
        sd_tier = _sim.semdedup_keep(emb_big).select("vec_id")
        sd_tier_n = sd_tier.count()
        sd_wall = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cbs_tier = _sim.cluster_balanced_sample(
            emb_big, n_cells=big_cells
        ).select("vec_id")
        cbs_tier_n = cbs_tier.count()
        cbs_wall = round(time.perf_counter() - t0, 2)
        _sim._DRIVER_MODEL_CELL_BUDGET = _budget_saved
        sd_ctrl = _sim.semdedup_keep(emb_big).select("vec_id")
        sd_ctrl_n = sd_ctrl.count()
        cbs_ctrl = _sim.cluster_balanced_sample(
            emb_big, n_cells=big_cells
        ).select("vec_id")
        cbs_ctrl_n = cbs_ctrl.count()
        for tag, tier_df, tier_n, ctrl_df, ctrl_n, wall in (
            ("semdedup_e2e_tier_x100", sd_tier, sd_tier_n, sd_ctrl, sd_ctrl_n, sd_wall),
            ("cbs_e2e_tier_x100", cbs_tier, cbs_tier_n, cbs_ctrl, cbs_ctrl_n, cbs_wall),
        ):
            inter = tier_df.join(ctrl_df, "vec_id").count()
            jacc = inter / max(1, tier_n + ctrl_n - inter)
            results[tag] = {
                "rows": big_rows,
                "n_cells": big_cells,
                "kept_tier": tier_n,
                "kept_onelevel": ctrl_n,
                "keep_jaccard": round(jacc, 4),
                "wall_s": wall,
            }
            assert jacc >= 0.75, (tag, jacc)
            print(f"{tag}: {results[tag]}", file=sys.stderr)
    finally:
        _sim._DRIVER_MODEL_CELL_BUDGET = _budget_saved

    import math

    def expo(a: str, b: str, factor: float, key: str = "min") -> float:
        return round(
            math.log(results[b][key] / results[a][key]) / math.log(factor), 3
        )

    results["scaling"] = {
        "ingest_20k_to_200k": expo("ingest_20000", "ingest_200000", 10),
        "ingest_200k_to_2M": expo("ingest_200000", "ingest_2000000", 10),
        "minhash_1x_to_10x": expo("minhash_x1", "minhash_x10", 10),
        "mhidx_build_1x_to_10x": round(
            math.log(
                results["mhidx_x10"]["build_s"] / results["mhidx_x1"]["build_s"]
            )
            / math.log(10),
            3,
        ),
        "mhidx_probe_big500_1x_to_10x": round(
            math.log(
                max(results["mhidx_x10"]["probe_big500"]["min"], 0.01)
                / max(results["mhidx_x1"]["probe_big500"]["min"], 0.01)
            )
            / math.log(10),
            3,
        ),
        "ann_build_1x_to_100x": expo("ann_x1", "ann_x100", 100, "build_s"),
        "ann_probe_1x_to_100x": expo("ann_x1", "ann_x100", 100, "probe_min"),
        "pqivf_build_1x_to_100x": expo(
            "pqivf_probe_x1", "pqivf_probe_x100", 100, "build_s"
        ),
        "pqivf_probe_1x_to_100x": expo(
            "pqivf_probe_x1", "pqivf_probe_x100", 100
        ),
        "dupspans_boiler_1x_to_10x": expo(
            "dupspans_boiler_x1", "dupspans_boiler_x10", 10
        ),
        "keep_template_1x_to_10x": expo(
            "keep_template_x1", "keep_template_x10", 10
        ),
        "keep_template_10x_to_100x": expo(
            "keep_template_x10", "keep_template_x100", 10
        ),
        "mhidx_build_10x_to_100x": round(
            math.log(
                results["mhidx_x100"]["build_s"] / results["mhidx_x10"]["build_s"]
            )
            / math.log(10),
            3,
        ),
        "mhidx_probe_big500_10x_to_100x": round(
            math.log(
                max(results["mhidx_x100"]["probe_big500"]["min"], 0.01)
                / max(results["mhidx_x10"]["probe_big500"]["min"], 0.01)
            )
            / math.log(10),
            3,
        ),
        "mhidx_probe_novel500_10x_to_100x": round(
            math.log(
                max(results["mhidx_x100"]["probe_novel500"]["min"], 0.01)
                / max(results["mhidx_x10"]["probe_novel500"]["min"], 0.01)
            )
            / math.log(10),
            3,
        ),
        "bpe_train_1x_to_10x": expo("bpe_x1", "bpe_x10", 10, "train_s"),
        "dsir_select_1x_to_10x": expo(
            "dsir_select_x1", "dsir_select_x10", 10
        ),
        "lm_ppl_1x_to_10x": expo("lm_ppl_x1", "lm_ppl_x10", 10),
        "lm_backoff_1x_to_10x": expo("lm_backoff_x1", "lm_backoff_x10", 10),
        "proto_prune_1x_to_100x": expo(
            "proto_prune_x1", "proto_prune_x100", 100
        ),
        "bpe_encode_1x_to_10x": expo("bpe_x1", "bpe_x10", 10),
        "curate_drop1_1x_to_10x": expo("curate_x1", "curate_x10", 10, "drop1_s"),
        "curate_drop2_1x_to_10x": expo("curate_x1", "curate_x10", 10, "drop2_s"),
        "cbs_10x_to_100x": expo("cbs_x10", "cbs_x100", 10),
        "twolevel_wall_1x_to_10x": expo("twolevel_x1", "twolevel_x10", 10),
        "twolevel_driver_model_1x_to_10x": round(
            math.log(
                results["twolevel_x10"]["driver_model_rows"]
                / results["twolevel_x1"]["driver_model_rows"]
            )
            / math.log(10),
            3,
        ),
        "curate_full_drop1_1x_to_10x": expo(
            "curate_full_x1", "curate_full_x10", 10, "drop1_s"
        ),
        "curate_full_drop2_1x_to_10x": expo(
            "curate_full_x1", "curate_full_x10", 10, "drop2_s"
        ),
    }
    # the r10 two-level contract: cells grew ~linearly with the corpus,
    # the driver's model copy must not (sqrt posture = 0.5)
    assert results["scaling"]["twolevel_driver_model_1x_to_10x"] <= 0.6, (
        results["scaling"]["twolevel_driver_model_1x_to_10x"]
    )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
