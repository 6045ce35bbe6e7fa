"""The crawl-curation plan: WARC archives in, training-ready corpus out.

One composition of oracle-verified operators (each stage is separately
gated in plans/corpus.py), shared by `cli curate` and
examples/crawl_pipeline.py:

  WARC -> HTTP header strip -> HTML-to-text -> quality gate
       -> incremental MinHash dedup (probe index, fold survivors in)
       -> language mixture rebalance
       -> [optional] DSIR token-budget selection (keep the docs most
          like a target distribution until the budget fills)
       -> sequence packing -> shard manifest -> gzipped JSONL export

The dedup index persists under {workdir}/mh_index across invocations —
run the command per crawl drop and each batch dedups against everything
previously accepted (the O(batch) incremental architecture, never a
corpus re-pair). The dedup tiers are operators/dedup_fuzzy.py:
incremental_dedup_keep, the same core the streaming daemon
(streaming/dedup_stream.py) runs per micro-batch; this plan adds the
id-containment pre-filter. Survivors fold into the index through the
daemon's fold too (dedup_fuzzy.write_postings): one small increment per
drop under mh_index/{banded,sigs,hashes}_inc/ingest_batch=<drop tag>/,
so a re-run of the same drop tag replaces its own increment. `cli dedup
compact --index {workdir}/mh_index` folds the increments into the
prefix-clustered base.

Cost model (the r7 rework): every stage boundary is localCheckpoint'ed
once, so the expensive upstream work — the WARC parse + HTML extraction,
the quality expression, lang-id + rebalance — executes exactly ONCE per
run no matter how many downstream consumers (stage counts, the index
append, the manifest and export writes) read it. Before this, the plan
took four driver actions over un-materialized lineage and paid the WARC
parse ~4x (the flagship pipeline's most expensive stage) — the
scanned-once property is now pytest-asserted via a record accumulator
(tests/test_text_source.py). localCheckpoint rather than persist() so
blocks are freed by the ContextCleaner, and rather than observe() so the
materialized frame ALSO serves the reuse (observe would fix the counts
but leave the recomputation).

Each drop writes into its own namespace — {workdir}/export/drop=<tag>/
and {workdir}/manifest/drop=<tag>/ (tag auto-increments from the dirs
already present, or pass drop_tag explicitly to make a re-run of the
same drop overwrite itself) — so running the documented per-drop
workflow accumulates corpora instead of silently overwriting the
previous drop's shards, mirroring streaming/dedup_stream.py's
ingest_batch partitioning.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _artifact_exists(spark: SparkSession, path: str) -> bool:
    """Completed-artifact check through the Hadoop FileSystem API, so the
    train-once lifecycle (bpe_model / dsir_model / eval_grams) holds on
    s3a/hdfs workdirs too — os.path.exists is local-only and would
    silently retrain (and overwrite) the model on every drop of a remote
    deployment."""
    from ct_mapreduce_spark.fsutil import path_exists

    return path_exists(spark, os.path.join(path, "_SUCCESS"))


def _next_drop_tag(spark: SparkSession, export_root: str) -> str:
    """Smallest drop-NNNN not already present under {workdir}/export.
    Listed through the Hadoop FileSystem API (same reason as
    _artifact_exists): on a remote workdir a local listdir would always
    see nothing and every drop would come up drop-0000, silently
    overwriting the previous drop's shards."""
    from ct_mapreduce_spark.fsutil import _fs_and_path, path_exists

    taken = set()
    if path_exists(spark, export_root):
        fs, p = _fs_and_path(spark, export_root)
        for st in fs.listStatus(p):
            m = re.fullmatch(r"drop=drop-(\d{4})", st.getPath().getName())
            if m:
                taken.add(int(m.group(1)))
    n = 0
    while n in taken:
        n += 1
    return f"drop-{n:04d}"


def curate_crawl(
    spark: SparkSession,
    warc_dir: str,
    workdir: str,
    quality_min: float = 0.2,
    est_threshold: float = 0.9,
    seq_len: int = 512,
    seqs_per_shard: int = 8,
    n_export_shards: int = 2,
    drop_tag: str | None = None,
    strip_boilerplate: bool = False,
    boilerplate_min_docs: int = 8,
    bpe_model: str | None = None,
    bpe_merges: int = 512,
    lm_max_xent: int | None = None,
    lm_reference: str | None = None,
    lm_model: str | None = None,
    lm_order: int = 1,
    domain_blocklist: list[str] | None = None,
    token_budget: int | None = None,
    dsir_target: str | None = None,
    dsir_model: str | None = None,
    dsir_buckets: int = 4096,
    eval_suite: str | None = None,
    decontam_k: int = 8,
    decontam_max_hits: int = 0,
    pii_redact: bool = False,
) -> dict:
    """Run the full curation pass; returns stage-count stats (including
    the resolved drop tag). Writes {workdir}/mh_index (created on first
    run, probed+grown after), {workdir}/export/drop=<tag> (gzipped JSONL
    shards), {workdir}/manifest/drop=<tag> (parquet shard manifest).

    strip_boilerplate=True inserts a duplicate-passage-removal stage
    (dedup_fuzzy.remove_dup_spans) between extraction and the quality
    gate: spans whose word 8-gram repeats across >= boilerplate_min_docs
    of THIS drop's pages (site templates, nav bars, license headers) are
    stripped before quality scoring and signing, so the gate judges
    substantive text and near-dup signatures aren't dominated by shared
    chrome; adds `boiler_tokens_removed` to the stats.

    bpe_model: pack the training stream in LEARNED-tokenizer units
    instead of whitespace words. The path is the merge-table artifact:
    trained on this drop's balanced corpus and saved there if absent,
    loaded if present — so successive drops pack under the SAME
    tokenizer (offsets stay comparable across the corpus), exactly like
    mh_index persists across drops. The export rows gain a per-doc
    `n_bpe_tokens` field; stats gain `bpe_merges`.

    domain_blocklist: registered domains to drop right after extraction
    (operators/web.py:filter_domains) — the cheapest gate runs first, so
    a blocked site never pays quality scoring, signing, or dedup work.
    Stats gain `after_blocklist`.

    lm_max_xent: activate the CCNet-style perplexity gate (operators/
    lm.py) right after the heuristic quality gate: drop documents whose
    per-token cross-entropy under a unigram reference model exceeds this
    many micro-nats/token. The model is the artifact: loaded from
    `lm_model` when present, else trained on `lm_reference` (a JSONL dir
    of trusted reference documents) — or, reference-free, on this drop's
    own quality survivors (self-perplexity: drops the statistically
    weird tail) — and saved to `lm_model` if a path was given, so
    successive drops score under the SAME model, exactly like
    mh_index/bpe_model/dsir_model. Stats gain `after_lm`. `lm_order=2`
    upgrades the scorer to the stupid-backoff bigram tier
    (lm_score_backoff): a second artifact at `{lm_model}_bi` persists
    the bigram table under the same lifecycle; a persisted order-1
    model cannot silently serve an order-2 gate (hard error).

    token_budget: cap the drop's exported corpus at this many tokens
    (BPE units when bpe_model is active, whitespace words otherwise),
    keeping the documents that look most like the TARGET distribution:
    scores come from the DSIR importance model
    (operators/selection.py), trained against `dsir_target` (a JSONL
    dir of target-distribution documents) with this drop's balanced
    corpus as the raw side. `dsir_model` persists the weight table like
    mh_index/bpe_model — trained+saved on the first drop if absent,
    loaded thereafter, so successive drops select under the SAME
    importance model. Stats gain `after_budget` (docs kept) and
    `budget_tokens` (tokens actually spent, <= token_budget).

    eval_suite: activate benchmark decontamination (dedup_fuzzy.
    contamination_hits) right after the quality/LM gates: drop documents
    containing more than `decontam_max_hits` distinct benchmark word
    `decontam_k`-grams, so eval data never reaches the exported corpus.
    The gram DICTIONARY is the artifact: built from the eval-suite JSONL
    dir and persisted at {workdir}/eval_grams on the first run, loaded
    thereafter (the suite is shingled once per suite, not once per drop;
    delete the artifact to re-shingle an updated suite — the mh_index
    lifecycle). Stats gain `after_decontam`.

    pii_redact=True inserts the privacy scrub (text.redact_pii_text)
    right before packing/export: emails, IPv4s and phone shapes in the
    surviving corpus are replaced with <EMAIL>/<IPV4>/<PHONEISH> tokens
    in the exported text itself. Runs LAST so it only pays for documents
    that survived every other gate, and so dedup signatures keep seeing
    the original byte stream (two documents differing only in the PII
    they leak still dedup as near-identical, and redaction cannot mask
    eval contamination). Stats gain `pii_redactions` (total matches
    replaced across the exported corpus)."""
    from ct_mapreduce_spark.operators import dedup_fuzzy, sampling, text
    from ct_mapreduce_spark.operators.packing import (
        pack_sequences,
        shard_manifest,
    )
    from ct_mapreduce_spark.operators.util import fan_out
    from ct_mapreduce_spark.sources import text_source

    # Per-stage wall clock, returned as stats["stage_walls"]. Each mark
    # closes the stage that just materialized (the localCheckpoint+count
    # pattern means the work really happened between marks, not lazily
    # later), so a drifting e2e number can be attributed to a stage
    # instead of adjudicated as a whole (VERDICT r8 watch item).
    walls: dict[str, float] = {}
    _t0 = [time.monotonic()]

    def _mark(stage: str) -> None:
        now = time.monotonic()
        walls[stage] = round(now - _t0[0], 3)
        _t0[0] = now

    if drop_tag is None:
        drop_tag = _next_drop_tag(spark, os.path.join(workdir, "export"))

    raw = text_source.read_warc(spark, warc_dir).where(
        F.col("warc_type") == "response"
    )
    txt = text.html_to_text(text.strip_http_headers(F.col("body")))
    # Stage boundary 1: extraction. The checkpoint is the ONLY execution
    # of the WARC parse + HTML battery; everything below reads blocks.
    docs = (
        raw.select(
            F.xxhash64("record_id").alias("doc_id"),
            "url",
            txt.alias("text"),
        )
        .where(F.length("text") > 0)
        # lazy checkpoint + count (r15, guide §5): the count is the
        # materializing action — one job persists the blocks AND returns
        # the size; the eager form paid a second block-scan job.
        .localCheckpoint(eager=False)
    )
    n_extracted = docs.count()  # materializes the checkpoint
    _mark("extract")

    n_after_blocklist = None
    if domain_blocklist:
        # Optional stage 1a: domain blocklist — a pure codegen filter
        # over the checkpointed extraction (cheap enough that the extra
        # checkpoint is a block-scan copy, not recomputation), so blocked
        # sites never reach quality scoring or the signature pass.
        from ct_mapreduce_spark.operators.web import filter_domains

        docs = filter_domains(docs, list(domain_blocklist)).localCheckpoint(
            eager=False
        )
        n_after_blocklist = docs.count()  # materializes the checkpoint
        _mark("blocklist")

    n_boiler_tokens = None
    if strip_boilerplate:
        # Optional stage 1b: duplicate-passage removal WITHIN the drop —
        # strip spans whose 8-gram appears in >= boilerplate_min_docs of
        # this drop's pages (site templates, license headers, nav bars)
        # BEFORE quality scoring and signing, so the quality gate judges
        # substantive text and near-dup signatures aren't dominated by
        # shared boilerplate. Checkpointed: three consumers (token stat,
        # the re-join, the emptied-doc filter) read blocks, the
        # gram/coverage passes run once.
        stripped = dedup_fuzzy.remove_dup_spans(
            docs, k=8, min_docs=boilerplate_min_docs
        ).localCheckpoint(eager=True)
        n_boiler_tokens = (
            stripped.agg(F.sum("n_removed")).collect()[0][0] or 0
        )
        docs = (
            docs.select("doc_id", "url")
            .join(
                stripped.where(F.length("clean_text") > 0).select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
            .localCheckpoint(eager=True)
        )
        _mark("boilerplate")

    # Stage boundary 2: quality gate — inline expression (no self-join
    # back to a scored frame), checkpointed because four consumers read
    # it (the probe's signature pass, the anti-joins, the index fold).
    good = (
        docs.where(text.quality_expr("text") >= quality_min)
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    n_good = good.count()  # materializes the checkpoint
    _mark("quality")

    n_lm = None
    if lm_max_xent is not None:
        # Optional stage 2b: perplexity gate. One broadcast-join scoring
        # pass over the checkpointed survivors; the model is
        # vocabulary-sized (min_count=2 folds the hapax tail into OOV).
        # lm_order=2 upgrades to the stupid-backoff bigram scorer; both
        # tables persist under the once-per-corpus-history lifecycle
        # (operators/lm.py:lm_gate_model).
        from ct_mapreduce_spark.operators.lm import (
            lm_gate_model,
            lm_score,
            lm_score_backoff,
        )

        model, bi = lm_gate_model(
            spark,
            lm_model,
            lm_order,
            reference=lambda: (
                text_source.read_jsonl(spark, lm_reference).where(
                    F.col("text").isNotNull()
                )
                if lm_reference is not None
                else good
            ),
        )
        scores = (
            lm_score_backoff(good, model, bi)
            if bi is not None
            else lm_score(good, model)
        )
        passing = scores.where(F.col("xent_micro") <= int(lm_max_xent))
        good = good.join(
            passing.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        n_lm = good.count()  # materializes the checkpoint
        _mark("lm_gate")

    n_decontam = None
    if eval_suite is not None:
        # Optional stage 2c: benchmark decontamination. The eval-gram
        # dictionary is bounded (suite-sized) and broadcasts into the
        # corpus shingle stream — one narrow filtered scan of the
        # checkpointed survivors, no corpus shuffle. Dictionary persists
        # at {workdir}/eval_grams across drops (built once per suite).
        grams_path = os.path.join(workdir, "eval_grams")
        if _artifact_exists(spark, grams_path):
            bench_grams = spark.read.parquet(grams_path)
            # The dictionary is only valid at the k it was shingled with:
            # probing k'-grams against a k-gram dictionary silently yields
            # ~zero hits — a decontamination gate that LOOKS green while
            # letting eval data through. The k column is constant (one
            # value per artifact), so the check is a metadata-sized read.
            if "k" not in bench_grams.columns:
                raise ValueError(
                    f"eval_grams artifact at {grams_path} predates "
                    "k-tagging; delete it to re-shingle the suite at "
                    f"decontam_k={decontam_k}"
                )
            stored_k = bench_grams.select("k").first()
            if stored_k is None:
                # zero-row artifact: the suite yielded no shingles (no
                # non-null text, or every doc shorter than k tokens) —
                # a real k-mismatch message ("pass decontam_k=None")
                # would misdirect the fix
                raise ValueError(
                    f"eval_grams artifact at {grams_path} is EMPTY — the "
                    "eval suite produced no shingles (no non-null text, "
                    "or every document shorter than k tokens). Check the "
                    "suite files and delete the artifact to re-shingle"
                )
            stored_k = stored_k[0]
            if stored_k != int(decontam_k):
                raise ValueError(
                    f"eval_grams at {grams_path} was shingled with "
                    f"k={stored_k} but this run asked decontam_k="
                    f"{decontam_k}; pass decontam_k={stored_k} or delete "
                    "the artifact to re-shingle the suite"
                )
        else:
            bench = text_source.read_jsonl(spark, eval_suite).where(
                F.col("text").isNotNull()
            )
            (
                dedup_fuzzy._shingle_table(bench, "text", decontam_k)
                .select("shingle")
                .distinct()
                .withColumn("k", F.lit(int(decontam_k)))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(grams_path)
            )
            bench_grams = spark.read.parquet(grams_path)
        hits = dedup_fuzzy.contamination_hits(
            good, k=decontam_k, bench_grams=bench_grams.select("shingle")
        ).where(F.col("n_hits") > int(decontam_max_hits))
        good = good.join(
            F.broadcast(hits.select("doc_id")), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
        n_decontam = good.count()  # materializes the checkpoint
        _mark("decontam")

    # Dedup sub-stage walls (r13, the x100 rung's standing follow-up:
    # dedup is ~95% of the drop-1 wall, so the next optimization needs
    # to know WHICH tier). Each sub-boundary below is an eager
    # localCheckpoint / action, so the intervals are real executions,
    # not lazy-plan noise. Sub-keys are additive detail; the aggregate
    # "dedup" wall keeps its exact pre-r13 meaning.
    _dsub = [time.monotonic()]

    def _dmark(name: str) -> None:
        now = time.monotonic()
        walls[f"dedup_{name}"] = round(now - _dsub[0], 3)
        _dsub[0] = now

    # The quality survivors are SIGNED ONCE; the probe tiers, the
    # within-batch tiers, and the index fold all take subset views of
    # this one materialized frame (semi-joins on checkpointed inputs)
    # instead of re-running the Python signature pass per tier.
    sigs = dedup_fuzzy.minhash_signatures(fan_out(good)).localCheckpoint(
        eager=True
    )
    _dmark("sign")

    idx = os.path.join(workdir, "mh_index")
    fresh = good
    # id-level containment: a re-crawl of a page we already ingested
    # carries the SAME doc_id, which the near-dup probe treats as "self"
    # and skips — drop it before the content tiers
    existing = dedup_fuzzy._read_store(spark, idx, "sigs", ["doc_id"])
    if existing is not None:
        fresh = good.join(existing, "doc_id", "left_anti")
    # Stage boundary 3: the accepted set (index fold + lang-id + count).
    kept = dedup_fuzzy.incremental_dedup_keep(
        spark, idx, fresh, est_threshold, sigs=sigs, mark=_dmark
    )
    kept_sigs = sigs.join(kept.select("doc_id"), "doc_id", "left_semi")
    # the fold's row count is the kept count: one signature row per doc
    n_kept = dedup_fuzzy.write_postings(
        kept, idx, batch_tag=drop_tag, sigs=kept_sigs
    )
    _dmark("fold")
    _mark("dedup")

    langs = text.lang_id(kept).select(
        "doc_id", F.col("pred_lang").alias("lang")
    )
    # Stage boundary 4: the balanced corpus — three consumers (count,
    # manifest write, export write) would otherwise re-run lang-id and
    # the rebalance count pass each.
    balanced = (
        sampling.mixture_rebalance(kept.join(langs, "doc_id"), "lang", "doc_id")
        .select("doc_id", "text", "lang")
        .localCheckpoint(eager=False)
    )
    n_balanced = balanced.count()  # materializes the checkpoint
    _mark("mixture")

    count_col = None
    n_bpe_merges = None
    if bpe_model is not None:
        from ct_mapreduce_spark.operators import tokenizer

        if _artifact_exists(spark, bpe_model):
            merges = tokenizer.load_merges(spark, bpe_model)
        else:
            merges = tokenizer.bpe_train(
                tokenizer.word_frequencies(balanced, top_v=65536),
                n_merges=bpe_merges,
            )
            tokenizer.save_merges(spark, merges, bpe_model)
        n_bpe_merges = len(merges)
        # Stage boundary 4b: the Python encode runs once; both the pack
        # and the export read the materialized counts.
        balanced = tokenizer.token_counts(balanced, merges).localCheckpoint(
            eager=True
        )
        count_col = "n_bpe_tokens"
        _mark("bpe")

    n_selected = None
    budget_spent = None
    if token_budget is not None:
        from ct_mapreduce_spark.operators.selection import (
            dsir_score,
            dsir_weights,
            select_token_budget,
        )

        if dsir_model is not None and _artifact_exists(spark, dsir_model):
            weights = spark.read.parquet(dsir_model)
            n_buckets = weights.count()  # model-sized frame
        else:
            if dsir_target is None:
                raise ValueError(
                    "token_budget needs dsir_target (to train the "
                    "importance model) or an existing dsir_model"
                )
            n_buckets = int(dsir_buckets)
            target = text_source.read_jsonl(spark, dsir_target).where(
                F.col("text").isNotNull()
            )
            weights = dsir_weights(target, balanced, n_buckets=n_buckets)
            if dsir_model is not None:
                weights.coalesce(1).write.mode("overwrite").parquet(
                    dsir_model
                )
                weights = spark.read.parquet(dsir_model)
        scored = dsir_score(balanced, weights, n_buckets=n_buckets)
        ntok = (
            F.col(count_col)
            if count_col is not None
            else F.size(text.tokens("text"))
        )
        # narrow (id, score, n_tokens) frame, checkpointed: the prefix
        # sum's two bounded driver actions and the final pass must not
        # re-run the scoring pipeline (selection.py docstring contract)
        frame = (
            balanced.select(
                "doc_id", ntok.cast("long").alias("_budget_tokens")
            )
            .join(scored.select("doc_id", "dsir_score_micro"), "doc_id")
            # lazy: the prefix sum's first bounded driver action is the
            # materializer — folds the checkpoint job into it (r15)
            .localCheckpoint(eager=False)
        )
        picked = select_token_budget(
            frame,
            int(token_budget),
            "dsir_score_micro",
            count_col="_budget_tokens",
        ).localCheckpoint(eager=False)
        n_selected = picked.count()  # materializes the checkpoint
        budget_spent = int(
            picked.agg(F.max("cum_tokens")).collect()[0][0] or 0
        )
        # Stage boundary 4c: the budget-selected corpus — the pack, the
        # manifest write and the export write all read this frame.
        balanced = balanced.join(
            picked.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=True)
        _mark("budget")

    n_pii = None
    if pii_redact:
        # Optional stage 4d: privacy scrub, LAST gate before export —
        # narrow regexp battery over only the documents every other
        # stage kept. Checkpointed: the redaction-count agg, the pack,
        # the manifest and the export all read the redacted frame.
        balanced = text.redact_pii_text(balanced).localCheckpoint(
            eager=False
        )
        # the agg is the materializing action (lazy checkpoint, r15)
        n_pii = int(balanced.agg(F.sum("n_pii")).collect()[0][0] or 0)
        balanced = balanced.drop("n_pii")
        _mark("pii")

    packed = pack_sequences(
        balanced, seq_len=seq_len, n_buckets=64, count_col=count_col
    )
    manifest = shard_manifest(
        packed, seq_len=seq_len, seqs_per_shard=seqs_per_shard
    )
    manifest_path = os.path.join(workdir, "manifest", f"drop={drop_tag}")
    export_path = os.path.join(workdir, "export", f"drop={drop_tag}")
    manifest.write.mode("overwrite").parquet(manifest_path)
    text_source.write_jsonl_gz(balanced, export_path, n_shards=n_export_shards)
    n_shards = spark.read.parquet(manifest_path).count()
    _mark("pack_export")
    stats = {
        "drop_tag": drop_tag,
        "extracted": n_extracted,
        "quality_survivors": n_good,
        "after_dedup": n_kept,
        "after_mixture": n_balanced,
        "shards": n_shards,
        "stage_walls": walls,
    }
    if n_after_blocklist is not None:
        stats["after_blocklist"] = n_after_blocklist
    if n_boiler_tokens is not None:
        stats["boiler_tokens_removed"] = int(n_boiler_tokens)
    if n_lm is not None:
        stats["after_lm"] = n_lm
    if n_decontam is not None:
        stats["after_decontam"] = n_decontam
    if n_pii is not None:
        stats["pii_redactions"] = n_pii
    if n_bpe_merges is not None:
        stats["bpe_merges"] = n_bpe_merges
    if n_selected is not None:
        stats["after_budget"] = n_selected
        stats["budget_tokens"] = budget_spent
    return stats
