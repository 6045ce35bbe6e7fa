"""Near-duplicate detection for training-data pipelines (north-star surface).

Tiers, all shuffle-conscious:

- exact_dedup:        hash-groupBy on md5(text). One shuffle on a short key.
- ngram_jaccard_pairs: exact Jaccard over word-shingle sets via a
                      shingle-inverted-index self-join. Quadratic in the
                      worst case — the *verification* tier, run on candidate
                      buckets, not the whole corpus, at scale.
- minhash_lsh_pairs:  MinHash signatures + banded LSH. The 100 TB tier:
                      base hashes JVM-side (xxhash64 in codegen), the
                      affine permutation family as one vectorized numpy
                      pass per Arrow batch, thin (doc, band, bucket)
                      self-join — pairs only within buckets, capped hot
                      buckets.
- simhash_pairs:      64-bit SimHash + hamming-radius candidate pairs
                      (pure expressions).
- dedup_clusters:     connected components over any tier's pairs ->
                      canonical keep/drop groups.
- incremental_dedup_keep: one batch against a persistent index (exact
                      hash probe, near-dup probe, within-batch tiers) —
                      the core of the curate plan and the dedup daemon.

MinHash math: h_i(S) = min_{x in S} hash_i(x) with an independent uniform
hash per slot; P[h_i(A)=h_i(B)] = J(A,B). Banding with r rows x b bands
flags pairs with J >~ (1/b)^(1/r).
"""

from __future__ import annotations

import hashlib
import logging
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)

from ct_mapreduce_spark.fsutil import path_exists
from ct_mapreduce_spark.operators.text import gram_stream, shingles, tokens
from ct_mapreduce_spark.operators.util import (
    append_v1,
    fan_out,
    run_parallel as _run_parallel,
)
from ct_mapreduce_spark.schemas import BANDED_INC, HASHES_INC, SIGS_INC

def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: canonical row = min doc_id (same
    first-seen-wins contract as operators/dedup.py)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_by_priority(
    docs: DataFrame,
    priority: Column | str,
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup keeping the BEST copy instead of the first: canonical
    row = max_by(doc_id, (priority, -doc_id)) per content hash. Training
    pipelines usually prefer the longest / highest-quality duplicate over
    the lowest-id one; `priority` is any numeric expression (e.g. a
    quality score or `F.length("text")`). Ties break to the LOWEST doc_id
    deterministically (the struct compares (priority, -doc_id)
    lexicographically). Same one-shuffle shape as exact_dedup — map-side
    combine keeps the shuffle at one row per (hash, partition)."""
    p = F.col(priority) if isinstance(priority, str) else priority
    tagged = docs.select(
        F.md5(F.col(text_col)).alias("content_hash"),
        "doc_id",
        p.cast("double").alias("_prio"),
    )
    best = F.max(
        F.struct(
            F.col("_prio").alias("p"), (-F.col("doc_id")).alias("negid")
        )
    )
    return tagged.groupBy("content_hash").agg(
        (-best["negid"]).cast("long").alias("canonical_doc_id"),
        best["p"].alias("canonical_priority"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingle_table(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(shingles(text_col, k)).alias("shingle")
    )


def contamination_hits(
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    text_col: str = "text",
    k: int = 4,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: for each corpus document, count the
    distinct benchmark word k-grams it contains (n_hits > 0 => the
    document leaks evaluation data and must be dropped before training).

    Plan: corpus shingle table (set semantics per doc) inner-joined to
    the distinct benchmark k-gram dictionary, then a per-doc count. The
    dictionary side is BROADCAST — eval suites are bounded (~1e5 examples
    -> ~1e7 grams) while the corpus is not, so the corpus never shuffles:
    each task filters its own rows against the in-memory dictionary. If
    the dictionary outgrows broadcast reach, put `bloom_membership` (the
    same prefilter shape) in front and keep the exact join for survivors.

    Returns (doc_id, n_hits) for contaminated documents only; the clean
    keep-list is `docs.join(result, 'doc_id', 'left_anti')`.

    `bench_grams` supplies the gram dictionary pre-built (a one-column
    `shingle` frame, e.g. the persisted {workdir}/eval_grams artifact
    plans/curate.py keeps across drops) — the benchmark suite is then
    shingled once per suite, not once per drop. Exactly one of
    bench_docs / bench_grams must be given; the k used to BUILD a
    persisted dictionary is part of its definition, so pass the same k.
    """
    if (bench_docs is None) == (bench_grams is None):
        raise ValueError("pass exactly one of bench_docs / bench_grams")
    corpus_sh = _shingle_table(docs, text_col, k)
    bench_sh = (
        bench_grams.select("shingle").distinct()
        if bench_grams is not None
        else _shingle_table(bench_docs, text_col, k).select("shingle").distinct()
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def eval_containment(
    docs: DataFrame,
    bench_docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    dirty_threshold: float = 0.8,
) -> DataFrame:
    """The eval-side contamination measurement (the GPT-3 appendix-C /
    PaLM protocol, mirrored by contamination_hits' corpus-side flagging):
    for each BENCHMARK document, the fraction of its distinct word
    k-grams that appear anywhere in the training corpus, plus the
    `dirty` verdict (containment >= `dirty_threshold`) used to split an
    eval suite into clean/dirty halves when reporting scores.

    Plan — the direction of the join is what scales: the benchmark gram
    dictionary (bounded: eval suites are ~1e5 examples) broadcasts INTO
    the corpus shingle stream as a left-semi join, so the corpus is one
    filtered scan that never shuffles; only the MATCHED grams (bounded
    by the dictionary size) reach the distinct-grams shuffle, and
    everything after is benchmark-sized. Zero-gram benchmark docs
    (shorter than k tokens) report containment 0.0, not a 0-divisor.

    Returns one row per benchmark doc:
    (doc_id, n_grams, n_hit, containment, dirty)."""
    bench_sh = _shingle_table(bench_docs, text_col, k).localCheckpoint()
    bench_dict = bench_sh.select("shingle").distinct()
    hit_grams = (
        _shingle_table(docs, text_col, k)
        .select("shingle")
        .join(F.broadcast(bench_dict), "shingle", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        bench_sh.join(F.broadcast(hit_grams), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("_hit").cast("long").alias("n_hit"),
        )
    )
    frac = F.col("n_hit").cast("double") / F.greatest(
        F.col("n_grams"), F.lit(1)
    ).cast("double")
    # docs shorter than k tokens have no shingle rows: rejoin onto the
    # full benchmark id set so they report (0, 0, 0.0, false)
    return (
        bench_docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(frac, 6).alias("containment"),
            (F.round(frac, 6) >= float(dirty_threshold)).alias("dirty"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Duplicate-passage detection (exact substring tier, the
    train-data-dedup complement to document-level MinHash): a span is a
    word k-gram occurrence; a span is *duplicated* when its k-gram appears
    in >= 2 distinct documents. Reports per-document span counts and the
    duplicated fraction — the signal used to strip boilerplate/templated
    passages that document-level dedup can't see.

    Plan (the r7 skew-safe form): the positional gram stream is
    aggregated ONCE to compact (gram, doc_id, occ) rows (map-side
    combine bounds the shuffle at one row per (gram, doc, task)) and
    localCheckpoint'ed — the explode/tokenize pass executes exactly
    once; nd = distinct docs per gram is then a map-side-combined
    `groupBy("gram")` count over the checkpointed frame, JOINED back
    rather than computed with count().over(Window.partitionBy("gram")).
    Gram frequency is the most heavy-tailed distribution in this domain:
    a boilerplate 8-gram present in half a 100 TB corpus would land
    every (gram, doc) row of that gram in ONE window partition on one
    task with no AQE rescue (AQE does not split window partitions) —
    whereas the aggregate's per-task state is one counter per gram and
    the join-back is AQE-skew-join eligible, so per-task memory stays
    flat in the hottest gram's frequency (boilerplate soak rung in
    tools/scale_soak.py). The checkpoint replaces exchange-reuse, which
    Catalyst's aggregate-collapse defeats here (the nd side's sub-plan
    gets rewritten to a distinct-keys aggregate, breaking sub-tree
    equality); its bytes are the same compact rows the old window
    exchange materialized once anyway. Work scales with corpus token
    count, not corpus^2.
    """
    g = docs.select(
        "doc_id", F.explode(gram_stream(text_col, k)).alias("gram")
    )
    pairs = g.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    ).localCheckpoint(eager=True)
    nd = pairs.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    return (
        pairs.join(nd, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("occ")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicate-passage REMOVAL — the action counterpart to
    dup_span_stats: delete from every document the word k-gram spans
    whose gram occurs in >= min_docs distinct documents (boilerplate,
    templates, license headers — the repeated passages document-level
    dedup can't see; the exact-substring corpus-dedup of Lee et al.
    2022 restated span-wise). A token is removed when ANY flagged gram
    occurrence covers its position; the surviving tokens are re-joined
    in order. Output: (doc_id, clean_text, n_tokens, n_removed) —
    whitespace-normalized (tokenization splits on runs of whitespace),
    every input doc present, fully-boilerplate docs come back empty.

    Plan (all map-side-combinable aggregates, no windows): the
    positional gram stream feeds (1) a gram -> distinct-doc count (two-
    phase count_distinct: partial dedup of (gram, doc) per task, so the
    hottest boilerplate gram's state is one entry per task — the same
    skew posture as dup_span_stats' nd), and (2) a semi-join of
    occurrences against the flagged grams. Coverage explodes flagged
    occurrences k-fold ONLY (bounded by the boilerplate fraction), the
    anti-join on (doc_id, pos) is AQE-skew-eligible, and reassembly is
    a per-document aggregate whose state is the document itself. The
    gram stream is recomputed for its two consumers rather than
    checkpointed: two codegen scan passes beat materializing a
    corpus-token-sized positional stream (contrast dup_span_stats,
    whose checkpointed frame is the COMPACT per-(gram,doc) rollup)."""
    tok_pos = docs.select(
        "doc_id", F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    g = docs.select(
        "doc_id", F.posexplode(gram_stream(text_col, k)).alias("pos", "gram")
    )
    flagged = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram")
    )
    covered = (
        g.join(flagged, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    # Examined r15 (guide §2.4): pre-clustering the token side on doc_id
    # alone so the anti-join and the per-document rebuild share one
    # token-stream exchange does NOT work under Spark's defaults —
    # spark.sql.requireAllClusterKeysForCoPartition=true makes
    # EnsureRequirements reject subset-key co-partitioning, so the join
    # re-shuffles both sides on (doc_id, pos) anyway and the explicit
    # repartition is a pure extra exchange (verified in the forced
    # sort-merge regime, plans/r15/docs_remove_dup_spans_after_smj_
    # regime.txt predecessor capture). In the common regime the covered
    # side is boilerplate-bounded and broadcasts, so the token stream
    # shuffles exactly once (the rebuild groupBy) — already minimal.
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    return (
        docs.select(
            "doc_id", F.size(tokens(text_col)).cast("long").alias("n_tokens")
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def remove_dup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Exact paragraph-level dedup — the cheap unit-boundary complement
    to remove_dup_spans (the shape Dolma ships as its paragraph dedup):
    delete every paragraph whose trimmed text occurs in >= min_docs
    distinct documents (nav bars, footers, cookie banners — boilerplate
    that aligns on paragraph boundaries needs no k-gram coverage
    machinery to find). `sep` is a Java-regex/RE2-shared separator
    pattern; surviving paragraphs re-join in order with `join_sep`.
    Whitespace-only paragraphs are formatting, not content: they never
    flag and are never removed. Output: (doc_id, clean_text, n_paras,
    n_removed), every input doc present.

    Plan (no windows, no k-fold explosion — the paragraph stream is
    ~line-sized, not gram-x-k-sized): paragraphs keyed by md5 of their
    trimmed text (the shuffle carries a 32-char key, not the paragraph);
    the distinct-doc count is two-phase (partial dedup of (key, doc) per
    task, so the hottest boilerplate paragraph's state is one entry per
    task — the dup_span_stats skew posture); removal is one
    AQE-skew-eligible anti-join on the key; reassembly is a
    per-document aggregate whose state is the document itself."""
    paras = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), sep)).alias(
            "pos", "para"
        )
    )
    key = F.md5(F.trim(F.col("para")))
    flagged = (
        paras.where(F.trim(F.col("para")) != "")
        .select(key.alias("key"), "doc_id")
        .distinct()
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= int(min_docs))
        .select("key")
    )
    # flagged holds only non-blank keys, so a plain anti-join preserves
    # whitespace-only paragraphs by construction
    kept = (
        paras.withColumn("key", key).join(flagged, "key", "left_anti")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("_kept"),
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.split(F.col(text_col), sep)).cast("long").alias(
                "n_paras"
            ),
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_paras",
            (F.col("n_paras") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity >= threshold over word k-gram shingle sets.

    Plan: shingle inverted index -> self-join on shingle (co-occurrence
    counts = |A∩B|) -> join per-doc sizes -> J = inter / (|A|+|B|-inter).
    The division's operands are exact integers, so J is bit-identical
    across engines.
    """
    sh = _shingle_table(docs, text_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # No broadcast hint on the sizes table: it has one row per document, so
    # forcing a broadcast is a driver/executor OOM at corpus scale. AQE
    # broadcasts it when the (filtered) build side is genuinely small and
    # falls back to a shuffle join otherwise.
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "inter", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard"))


MERSENNE_P = (1 << 61) - 1


def minhash_signatures_expr(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Pure-expression MinHash (no Python anywhere): h_i(s) =
    xxhash64(base_hash(s), i, seed). Use when Python workers are
    unavailable/undesired; ~3x slower than the vectorized default because
    higher-order array functions are interpreted, not codegen'd."""
    base = F.transform(shingles(text_col, k), lambda s: F.xxhash64(s))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(base, lambda h: F.xxhash64(h, i, F.lit(seed)))
        ),
    )
    return docs.select("doc_id", sig.alias("minhash"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """doc_id -> array<long> of num_hashes MinHash values.

    Split hybrid: the per-shingle base hash runs JVM-side
    (xxhash64 inside whole-stage codegen over the distinct-shingle array
    — no Python string traffic), and only the affine permutation family
    runs in an Arrow-batched pandas UDF whose per-row work is one
    vectorized (num_hashes x n_shingles) numpy broadcast. This keeps the
    Python hop to pure numpy arithmetic on int64 arrays — measured ~5x
    faster than hashing shingle strings in Python, and still well ahead
    of the pure-expression form (`minhash_signatures_expr`, interpreted
    higher-order functions).

    The hash family is h_i(x) = ((a_i * x + b_i) mod 2^64) mod (2^61 - 1):
    numpy uint64 arithmetic wraps the product mod 2^64 *before* the mod-p,
    so this is NOT the textbook universal family (a*x+b) mod p — the
    strict P[h(A)=h(B)] = J(A,B) guarantee holds only approximately. It
    is deterministic (xxhash64 is seed-stable; no process-salted Python
    hash anywhere), well-mixed in practice (recall >= 0.9 vs exact
    Jaccard in tests); exact mod-p would need 128-bit splitting for no
    measured recall gain.

    No shuffle: per-row computation; callers repartition for CPU balance.
    """
    rng = np.random.default_rng(seed)
    p = np.uint64(MERSENNE_P)
    a = rng.integers(1, MERSENNE_P, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, MERSENNE_P, size=num_hashes, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _mh(base_hashes: pd.Series) -> pd.Series:
        # One vectorized pass over the whole Arrow batch: concatenate every
        # row's base hashes, apply the affine family to the flat array, and
        # segment-minimize back to rows with minimum.reduceat — no per-row
        # Python loop.
        lens = np.fromiter(
            (0 if arr is None else len(arr) for arr in base_hashes),
            dtype=np.int64,
            count=len(base_hashes),
        )
        nonempty = lens > 0
        out = np.zeros((len(base_hashes), num_hashes), dtype=np.int64)
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(arr, dtype=np.int64) for arr in base_hashes[nonempty]]
            ).view(np.uint64) & p
            with np.errstate(over="ignore"):
                v = (a[:, None] * flat[None, :] + b[:, None]) % p
            starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
            mins = np.minimum.reduceat(v, starts, axis=1)  # (num_hashes, n_rows)
            out[nonempty] = mins.T.astype(np.int64)
        return pd.Series(list(out))

    base = F.transform(shingles(text_col, k), lambda s: F.xxhash64(s, F.lit(seed)))
    # Two hashes ride along (codegen md5s, negligible next to the
    # signature pass) — the EXACT-duplicate tiers of the incremental
    # index: content_hash catches verbatim copies; sig_hash (md5 of the
    # signature vector) catches signature-identical variants (same page
    # with whitespace/timestamp noise — same shingle set, different
    # bytes), which the banded tier would score at est_jaccard exactly
    # 1.0 while paying quadratic candidate generation for. Both are
    # dropped by hash equality in O(batch) before the banded probe runs
    # (a template-heavy 10x re-crawl measured 113 s of candidate scoring
    # the exact tiers remove outright); genuinely-near docs still take
    # the minhash path. sig_hash derives from the materialized minhash
    # column (second select) so the Arrow UDF evaluates exactly once.
    out = docs.select(
        "doc_id",
        _mh(base).alias("minhash"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    return out.withColumn(
        "sig_hash",
        F.md5(F.concat_ws(",", F.transform("minhash", lambda x: x.cast("string")))),
    )


# Widest cap the array pairing serves. A cell of W members becomes ONE
# row holding W(W-1)/2 pair structs: ~2.1M at 2048, already tens of MB
# in a single task row, and quadratic beyond. Wider caps pair through the
# sort-merge self-join instead (same pairs, spills to disk).
_ARRAY_PAIRING_MAX_WIDTH = 2048


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_width: int | None = 256,
    sigs: DataFrame | None = None,
    template_bucket_frac: float | None = 0.01,
    template_bucket_width: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    `sigs`: optionally pass a precomputed, MATERIALIZED (doc_id, minhash)
    frame covering exactly `docs` rows (same k/num_hashes/seed) to skip
    the Python signature pass — incremental_dedup_keep signs each batch
    once and shares the frame between the index probe and the
    within-batch tier.

    A doc_id that repeats within `docs` is one document: it is never
    paired with itself, so a repeated id never drops its own rows.

    r = num_hashes/bands rows per band; a pair collides if any band's
    sub-signature matches exactly. Scale shape: explode -> groupBy band
    bucket -> per-bucket pairing.

    Hot-bucket capping (declared semantics, re-derived bit-for-bit by
    tools/independent_oracle.py:_lsh_pair_bands):

    1. A bucket wider than `max_bucket_width` is SATURATED. Its retained
       members are the top-cap ranked by (xxhash64(doc_id, seed), doc_id)
       PLUS its min-doc_id anchor; retained members all-pair within the
       bucket as usual.
    2. The cap for a saturated bucket is `max_bucket_width`, EXCEPT when
       the bucket also holds more than `template_bucket_frac` of the
       corpus (doc count of `sigs`): such a bucket is template noise by
       construction — a genuine near-dup family does not span 1% of a
       crawl, but sub-k-gram boilerplate chrome does (the r13 x100 crawl
       put 54k of 200k docs in one bucket; its capped pairing was 95% of
       the whole dedup wall while every one of its pairs scored
       est_jaccard < 0.9) — and its cap drops to
       min(template_bucket_width, max_bucket_width).
    3. Every truncated member still emits ONE candidate pair linking it
       to the bucket's min-doc_id anchor (a spanning star, O(width) not
       O(width^2)). Truncation therefore never fully erases membership
       evidence: a genuine near-dup family wider than the cap still has
       every member scored against the family's minimum id, which is
       exactly the pair the greatest-id-drop keep rule needs — recall on
       mega-families is strictly BETTER than pure truncation at any cap.

    Default geometry (r14, picked by measurement): cap 256 / template
    cap 64. The r13 cap sweep on the template-saturated x100 crawl
    measured the est>=0.9 drop set BYTE-IDENTICAL from cap 4096 down to
    64 at 14-56x less wall (390.9 -> 8.1 -> 7.0 s loaded), and the r14
    rung re-proved drop-set identity for the shipped default vs the old
    flat-4096 cap in one window (tools/artifacts/r14_soak_r14.json).
    The anchor star is what makes the low default safe: family collapse
    through the min-id anchor is cap-INDEPENDENT, so the cap only
    budgets member-member evidence for borderline chains (docs within
    threshold of each other but not of the anchor) — raise it for
    corpora where that matters more than wall.

    Pairing builds one sorted member array per cell for caps up to
    _ARRAY_PAIRING_MAX_WIDTH (2048) and a sort-merge self-join above it
    or without a cap; both emit the same pairs.

    Detection stays one map-side-combined count over the materialized
    banded frame — the healthy-corpus fast path pays one small
    aggregation plus one near-empty broadcast, NOT a full-data window
    shuffle; only rows inside saturated buckets get ranked. Pass
    max_bucket_width=None to disable capping entirely,
    template_bucket_frac=None to keep one flat cap.

    Output: (doc_a, doc_b, n_bands_matched, est_jaccard) where est_jaccard
    is the signature-agreement fraction (unbiased J estimate);
    n_bands_matched counts the (band, bucket) cells that evidenced the
    pair (all-pair cells plus anchor-star cells).
    """
    # Signature computation is CPU-dense per-row work: fan out first.
    # Materialize the COMPACT signature frame (one row per doc), not the
    # exploded banded frame (which would duplicate each signature array
    # `bands` times — 16x the checkpoint bytes): the banded expansion is
    # cheap codegen'd array work both join sides can re-derive. Without a
    # materialization point the Python-stage signature computation would
    # execute twice (AQE turns the self-join into a broadcast join, so the
    # two sides never share an exchange). localCheckpoint rather than
    # persist(): blocks are owned by the RDD and freed by the
    # ContextCleaner when the result is garbage collected, instead of
    # leaking a CacheManager entry per invocation in a long-lived session.
    if sigs is None:
        # exact-tier hash columns pruned BEFORE the checkpoint: this
        # operator never reads them, and the select lets Catalyst elide
        # their md5/concat expressions entirely (serve paths that do
        # need them pass a full `sigs` frame in). LAZY when capping is
        # on: the saturation-detection job below contains this frame
        # exactly once, so its first action runs the Python signature
        # pass once and persists the blocks — one fewer job than an
        # eager materialize (guide §5); the uncapped path keeps the
        # eager form (its first consumer is the self-join, whose two
        # sides would race-materialize the Python stage).
        sigs = minhash_signatures(
            fan_out(docs), text_col, k, num_hashes, seed
        ).select("doc_id", "minhash")
        sigs = sigs.localCheckpoint(eager=(max_bucket_width is None))
    # Thin banded frame: (doc_id, band, bucket) only. Carrying the 64-slot
    # signature array through the explode/self-join would multiply shuffle
    # bytes by ~10x; est_jaccard is attached at the end by joining the few
    # surviving candidate pairs back to the compact signature frame.
    # Checkpointed (consumers re-read blocks instead of re-deriving the
    # explode+sha1 — measured r5) and LAZY when capping is on, for the
    # same single-appearance fusion as `sigs` above.
    banded = _banded_frame(sigs, num_hashes, bands).localCheckpoint(
        eager=(max_bucket_width is None)
    )
    star = None
    capped = None
    if max_bucket_width is not None:
        # Hot-bucket DETECTION, fused with materialization (r15): the
        # count below is one job whose lineage holds sigs and banded
        # exactly once each — it runs the signature pass, persists the
        # sigs/banded/wide blocks, AND answers the driver-side branch.
        # A healthy corpus has ZERO saturated buckets, and knowing that
        # at plan-build time lets the whole window/anti-join cap
        # machinery be omitted from the plan instead of executed over
        # empty inputs (measured r14: the un-branched plan carried the
        # machinery EIGHT times with ReusedExchange 0). Values are
        # unchanged either way — with no hot buckets, cold == banded
        # and capped_hot/star are provably empty. The detection list
        # shrinks to one row per saturated (band, bucket) after
        # map-side combine (tiny: adversarial corpora have a few
        # mega-buckets, healthy ones none).
        wide = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_width)
            .localCheckpoint(eager=False)
        )
        n_hot = wide.count()  # materializes sigs + banded + wide
        if n_hot == 0:
            capped = banded
        else:
            # Adversarial corpus only: derive per-bucket caps from the
            # materialized detection frame (banded blocks exist now, so
            # the corpus-count side is a block read, not a re-compute).
            # Seeded-hash rank order with doc_id tiebreak keeps
            # truncation deterministic across retries and engines.
            if template_bucket_frac is not None:
                # Corpus size derived from the banded frame itself
                # (every doc appears exactly once per band — band 0's
                # row count IS the doc count), attached on a constant
                # key. One near-empty 1-row aggregate over blocks.
                n_docs = (
                    banded.where(F.col("band") == 0)
                    .agg(F.count(F.lit(1)).alias("_total"))
                    .withColumn("_k", F.lit(1))
                )
                hot = (
                    wide.withColumn("_k", F.lit(1))
                    .join(F.broadcast(n_docs), "_k")
                    .withColumn(
                        "_cap",
                        F.when(
                            F.col("_n")
                            > F.greatest(
                                F.lit(max_bucket_width),
                                F.lit(float(template_bucket_frac))
                                * F.col("_total"),
                            ),
                            F.lit(
                                min(template_bucket_width, max_bucket_width)
                            ),
                        ).otherwise(F.lit(max_bucket_width)),
                    )
                )
            else:
                hot = wide.withColumn("_cap", F.lit(max_bucket_width))
            # Materialized (r14): multiple broadcast consumers below
            # would each replicate the caps sub-plan otherwise.
            hot = hot.select("band", "bucket", "_cap").localCheckpoint(
                eager=True
            )
            w = Window.partitionBy("band", "bucket").orderBy(
                F.xxhash64("doc_id", F.lit(seed)), "doc_id"
            )
            hot_rows = banded.join(F.broadcast(hot), ["band", "bucket"])
            # Min-id anchor per saturated bucket: map-side-combined min,
            # one row per hot bucket (tiny, broadcast back).
            anchors = hot_rows.groupBy("band", "bucket").agg(
                F.min("doc_id").alias("_anchor")
            )
            # Materialized (r15): two consumers (the retained slice into
            # the bucket-cells aggregation, the star) would otherwise
            # each pay the hot-row window sort + the anchors aggregation
            # — on the adversarial corpora this branch exists for, the
            # mega-bucket window sort is the dominant term.
            ranked = (
                hot_rows.withColumn("_rn", F.row_number().over(w))
                .join(F.broadcast(anchors), ["band", "bucket"])
                .localCheckpoint(eager=True)
            )
            capped_hot = ranked.where(
                (F.col("_rn") <= F.col("_cap"))
                | (F.col("doc_id") == F.col("_anchor"))
            ).select("doc_id", "band", "bucket")
            # Spanning star: each truncated member pairs once with the
            # bucket's min-id anchor (anchor < member always, so the
            # pair is already (doc_a < doc_b) oriented). O(bucket width)
            # rows, and disjoint per bucket from the retained all-pairs
            # (star members are exactly the non-retained ones), so the
            # band count below never double-counts a cell.
            star = ranked.where(
                (F.col("_rn") > F.col("_cap"))
                & (F.col("doc_id") != F.col("_anchor"))
            ).select(
                F.col("_anchor").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
            cold = banded.join(
                F.broadcast(hot.select("band", "bucket")),
                ["band", "bucket"],
                "left_anti",
            )
            capped = cold.unionByName(capped_hot)
    if capped is not None and max_bucket_width <= _ARRAY_PAIRING_MAX_WIDTH:
        # Capping bounds every bucket at max_bucket_width (+1 anchor), so
        # per-bucket member ARRAYS are memory-safe by construction and
        # pairing needs ONE exchange: groupBy (band, bucket) -> sorted
        # doc_id array -> explode the i<j combinations in codegen. The
        # former self-join shape shuffled the full banded table TWICE
        # (both sort-merge sides) and re-computed the cap lineage per
        # side (guide §2.4); values are identical — within a cell the
        # doc_ids are made distinct, so sorted i<j enumerates exactly the
        # (doc_a < doc_b) pairs the join emitted.
        members = F.col("_members")
        pair_cells = (
            capped.groupBy("band", "bucket")
            # array_distinct: a repeated doc_id would otherwise pair with
            # itself at est_jaccard 1.0 and drop every one of its rows
            .agg(
                F.array_sort(F.array_distinct(F.collect_list("doc_id"))).alias(
                    "_members"
                )
            )
            .where(F.size(members) >= 2)
            .select(
                F.explode(
                    F.flatten(
                        F.transform(
                            members,
                            lambda x, i: F.transform(
                                F.slice(
                                    members,
                                    i + F.lit(2),
                                    F.size(members) - i - F.lit(1),
                                ),
                                lambda y: F.struct(
                                    x.alias("doc_a"), y.alias("doc_b")
                                ),
                            ),
                        )
                    )
                ).alias("_p")
            )
            .select("_p.doc_a", "_p.doc_b")
        )
    else:
        # Uncapped (max_bucket_width=None), or capped above
        # _ARRAY_PAIRING_MAX_WIDTH: one bucket's pair array could OOM a
        # task — keep the sort-merge self-join, which sorts and spills
        # gracefully. A capped frame is made distinct first, so a
        # repeated doc_id counts once per cell as on the array path.
        cells = banded if capped is None else capped.distinct()
        a = cells.alias("a")
        b = cells.alias("b")
        pair_cells = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    if star is not None:
        pair_cells = pair_cells.unionByName(star)
    cand = pair_cells.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_bands_matched")
    )
    # Attach signature-agreement estimate: candidates are sparse, so these
    # joins move little data; no broadcast hint (sigs is corpus-cardinality
    # — AQE broadcasts when genuinely small, shuffles otherwise).
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("minhash").alias("_mh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("minhash").alias("_mh_b"))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_hash_agree",
            F.size(
                F.filter(
                    F.zip_with(F.col("_mh_a"), F.col("_mh_b"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ),
        )
        .withColumn(
            "est_jaccard",
            F.round(F.col("n_hash_agree").cast("double") / num_hashes, 6),
        )
    )
    return pairs.select("doc_a", "doc_b", "n_bands_matched", "est_jaccard")


def minhash_dedup_keep(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.9,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_width: int | None = 256,
    sigs: DataFrame | None = None,
    template_bucket_frac: float | None = 0.01,
    template_bucket_width: int = 64,
) -> DataFrame:
    """One-shot near-dup dedup, KEEP-LIST shaped: (doc_id) rows that
    survive MinHash/LSH dedup at `threshold` under the min-id-wins rule.

    Why this exists next to minhash_lsh_pairs: the PAIRS operator's
    output is inherently quadratic in duplicate-family size — a template
    family of m signature-identical docs is m(m-1)/2 pair rows, and even
    with the hot-bucket cap a 10k-doc boilerplate corpus measured ~50 s
    of capped candidate scoring whose every pair was est_jaccard exactly
    1.0. When the caller wants the KEEP-LIST (the common case — "which
    docs survive"), the family answer is decided by signature equality
    alone, so this operator collapses each signature-identical family to
    its min-id representative in O(corpus) (map-side-combined groupBy,
    no window — a template family would be one skewed window partition)
    and runs the banded tier over REPRESENTATIVES only. Same tier order
    as the within-batch half of incremental_dedup_keep.

    Declared semantics (what the independent oracle re-derives):
      1. sig-collapse: per exact-signature-vector family, every doc but
         the min doc_id is dropped (signature equality implies
         est_jaccard exactly 1.0 in the banded tier, so for any
         threshold <= 1.0 the keep-set equals the pairs+keep-rule
         answer whenever the hot-bucket cap does not bind; when it
         does bind, collapse-first strictly improves recall because
         reps no longer saturate their buckets).
      2. banded LSH pairs over the representatives (hot-bucket cap
         applied to the representative population).
      3. drop every rep that is greatest(doc_a, doc_b) of a pair with
         est_jaccard >= threshold; emit the surviving doc_ids.

    Zero-shingle docs (sub-k/empty text) share the all-zeros signature
    and collapse to one representative — the same verdict the banded
    tier gives them (they land in identical buckets); filter them
    upstream if that is not wanted.

    `sigs`: optional precomputed materialized signature frame carrying
    doc_id, minhash, sig_hash (minhash_signatures output) for exactly
    `docs` — the share-one-signature-pass protocol of
    incremental_dedup_keep.
    """
    if not threshold <= 1.0:
        raise ValueError(
            f"threshold must be <= 1.0 (got {threshold}): the sig-collapse "
            "tier drops signature-identical docs unconditionally, which is "
            "only keep-set-preserving when est_jaccard 1.0 qualifies"
        )
    if sigs is None:
        sigs = minhash_signatures(
            fan_out(docs), text_col, k, num_hashes, seed
        ).select("doc_id", "minhash", "sig_hash")
        sigs = sigs.localCheckpoint(eager=True)
    # Representative selection WITHOUT a window (a template family is one
    # giant sig_hash partition — windows don't get AQE skew rescue) and
    # WITHOUT broadcasting the drop side (non-reps are O(corpus) on the
    # corpora this operator exists for): map-side-combined min per
    # family, then a semi-join keyed (sig_hash, doc_id) that AQE plans.
    reps = sigs.groupBy("sig_hash").agg(F.min("doc_id").alias("doc_id"))
    rep_sigs = (
        sigs.join(reps, ["sig_hash", "doc_id"], "left_semi")
        .select("doc_id", "minhash")
        # LAZY when capping is on (r15): the pairs operator's
        # saturation-detection count is the first action and holds this
        # frame exactly once — it materializes the blocks in the same
        # job; the est joins and the final keep anti-join then read
        # blocks. Eager when uncapped: the same rule as
        # minhash_lsh_pairs' own `sigs`.
        .localCheckpoint(eager=(max_bucket_width is None))
    )
    pairs = minhash_lsh_pairs(
        docs,
        text_col,
        k,
        num_hashes,
        bands,
        seed,
        max_bucket_width,
        sigs=rep_sigs,
        template_bucket_frac=template_bucket_frac,
        template_bucket_width=template_bucket_width,
    )
    dropped = (
        pairs.where(F.col("est_jaccard") >= threshold)
        .select(F.greatest("doc_a", "doc_b").alias("doc_id"))
        .distinct()
    )
    # dropped is sparse (one row per non-surviving rep) — AQE broadcasts
    # it when small; no hint because adversarial corpora can make it wide.
    return rep_sigs.select("doc_id").join(dropped, "doc_id", "left_anti")


def _banded_frame(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, minhash) -> thin (doc_id, band, bucket) LSH frame — the
    same banding minhash_lsh_pairs builds inline (sha1 over the band's
    comma-joined signature slice)."""
    r = num_hashes // bands
    return (
        sigs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.struct(
                        i.alias("band"),
                        F.sha1(
                            F.concat_ws(",", F.slice("minhash", i * r + 1, r))
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket")
    )


def _cluster_writers(df: DataFrame, col: str, n_values: int = 256) -> DataFrame:
    """Cluster rows by the partition column across an EXPLICIT number of
    writer tasks: min(n_values, defaultParallelism) — the cluster width,
    capped at the partition-value count (a hash exchange never spreads
    one value over two tasks, so extra partitions past n_values would sit
    empty). The explicit count matters (r14, measured): a bare
    `repartition(col)` is AQE-coalescible, and on a small batch AQE folds
    the exchange to ONE task which then creates all ~n_values partition
    directories/files sequentially (~20 ms each on local fs, worse on
    object stores) — the hash-store write was 6.3 s where 32 explicit
    writers take 2.5 s, same 514 files. Scale posture: defaultParallelism
    is the cluster width, so writer parallelism tracks the cluster, and
    per-pfx file count stays one per batch either way."""
    n = min(n_values, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, F.col(col))


def minhash_index_build(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    sigs: DataFrame | None = None,
) -> None:
    """Materialize a MinHash/LSH dedup index for the historical corpus.
    `sigs`: optional precomputed materialized signatures for `docs`
    (see minhash_lsh_pairs).

    This is the INCREMENTAL dedup architecture: at 100 TB you do not
    re-pair the whole corpus for every incoming batch — you pay the
    signature pass ONCE, persist the banded posting lists, and each new
    batch probes them (minhash_probe_index). Layout:

      {path}/banded/  (doc_id, band, bucket) partitioned by pfx =
                      first 2 hex chars of bucket (256 partitions), so a
                      probe's bounded bucket-prefix IN-list prunes the
                      scan to the partitions its buckets can live in —
                      the same serve shape as the materialized IVF index
                      (operators/similarity.py:ivf_build_index).
      {path}/sigs/    (doc_id, minhash, content_hash) for
                      signature-agreement scoring of surviving
                      candidates.
      {path}/hashes/  distinct (kind, hash) rows — kind 'content'
                      (md5 of text) and 'sig' (md5 of the signature
                      vector) — partitioned by hpfx (first 2 hex
                      chars). The EXACT-duplicate serve tier:
                      exact_hash_probe drops a batch's verbatim copies
                      AND signature-identical variants by hash equality
                      (same broadcast-batch + partition-filter shape as
                      the banded probe) before the banded tier generates
                      candidates. A template-heavy re-crawl is
                      exactly-equal content: without this tier a 10x
                      re-crawl soak measured 113 s of LSH candidate
                      scoring whose every answer was already decided by
                      hash equality.

    Parameters must match between build and probe (they define the hash
    family); both default to minhash_lsh_pairs' values, so probe results
    agree bit-for-bit with the batch-vs-corpus slice of the one-shot
    operator (asserted in tests/test_llm_ops.py).
    """
    if sigs is None:
        sigs = minhash_signatures(fan_out(docs), text_col, k, num_hashes, seed)
        sigs = sigs.localCheckpoint(eager=True)  # one Python pass, two sinks
    banded = _banded_frame(sigs, num_hashes, bands).withColumn(
        "pfx", F.substring("bucket", 1, 2)
    )
    # Cluster by pfx before the partitioned write: without it every
    # writer task emits a sliver into every pfx directory (tasks x 256
    # files — measured 8192 files for a 68 MB index, and the probe's
    # "fixed overhead" was mostly opening them). Clustered (explicit
    # writer count — see _cluster_writers), each pfx directory gets one
    # file per batch and file count stays proportional to data, not
    # tasks x partitions.
    # The three sinks are independent consumers of the one checkpointed
    # signature frame writing to disjoint directories, so they run as
    # CONCURRENT jobs (guide §2.6): each job's commit/file-creation tail
    # back-fills the others' idle cores instead of serializing three
    # fixed overheads. Output bytes are identical to sequential writes.
    _run_parallel(
        lambda: _cluster_writers(banded, "pfx")
        .write.mode("overwrite")
        .partitionBy("pfx")
        .parquet(path + "/banded"),
        lambda: sigs.write.mode("overwrite").parquet(path + "/sigs"),
        lambda: _write_hash_store(sigs, path, mode="overwrite"),
    )


def minhash_index_append(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    sigs: DataFrame | None = None,
) -> None:
    """Fold an accepted batch into an existing index (the second half of
    the incremental lifecycle: probe, drop near-dups, APPEND survivors so
    the next batch dedups against them too). Parquet append into the same
    pfx partition layout — no rewrite of existing posting files, so the
    cost is O(batch) regardless of index size. Run minhash_index_compact
    on {path} periodically if many small batches accumulate small files.
    Each call adds one file per non-empty prefix (~290 for a 40-page
    batch); write_postings folds a batch as one small increment
    instead."""
    if sigs is None:
        sigs = minhash_signatures(fan_out(docs), text_col, k, num_hashes, seed)
        sigs = sigs.localCheckpoint(eager=True)
    banded = _banded_frame(sigs, num_hashes, bands).withColumn(
        "pfx", F.substring("bucket", 1, 2)
    )
    # pfx-clustered like the build: each append adds O(pfx values) files,
    # not tasks x 256 slivers. Same concurrent three-sink shape as the
    # build (disjoint directories, shared checkpointed input). Appends
    # run under committer v1 (util.append_v1): a failed v2 append would
    # leave committed task files that the previous write's _SUCCESS
    # already legitimizes.
    _run_parallel(
        lambda: append_v1(
            _cluster_writers(banded, "pfx").write.mode("append")
        )
        .partitionBy("pfx")
        .parquet(path + "/banded"),
        lambda: append_v1(sigs.write.mode("append")).parquet(path + "/sigs"),
        lambda: _write_hash_store(sigs, path, mode="append"),
    )


def _batch_hash_frame(batch_sigs: DataFrame) -> DataFrame:
    """(doc_id, kind, hash, hpfx) for both exact tiers of a batch."""
    rows = None
    for kind, col in (("content", "content_hash"), ("sig", "sig_hash")):
        part = (
            batch_sigs.select("doc_id", F.col(col).alias("hash"))
            .where(F.col(col).isNotNull())
            .withColumn("kind", F.lit(kind))
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.withColumn("hpfx", F.substring("hash", 1, 2))


def _write_hash_store(sigs: DataFrame, path: str, mode: str) -> None:
    """The exact-tier hash store: distinct (kind, hash) rows — kind
    'content' (md5 of text: verbatim copies) and 'sig' (md5 of the
    signature vector: signature-identical variants) — partitioned by
    hpfx (hash prefix) and clustered like the posting lists."""
    hashes = _batch_hash_frame(sigs).select("kind", "hash", "hpfx").distinct()
    w = _cluster_writers(hashes, "hpfx").write.mode(mode)
    if mode == "append":
        w = append_v1(w)  # see util.APPEND_COMMITTER_V1
    w.partitionBy("hpfx").parquet(path + "/hashes")


def _try_read_parquet(spark, p: str):
    """Read a parquet tree, treating a schema-less one as absent: a
    legitimately EMPTY batch (e.g. an all-duplicate micro-batch whose
    keep-list is zero rows) leaves a _SUCCESS-only directory behind,
    and reading it raises UNABLE_TO_INFER_SCHEMA — which must mean
    'no rows', never a failed trigger. The existence check goes through
    the Hadoop FileSystem API, so file://, hdfs:// and s3a:// index paths
    read like local ones."""
    if not path_exists(spark, p):
        return None
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(p)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise


# Declared layouts of write_postings' increment trees, by store.
_INC_SCHEMAS = {"banded": BANDED_INC, "sigs": SIGS_INC, "hashes": HASHES_INC}


def _read_store(
    spark,
    path: str,
    store: str,
    columns: list[str],
    base_filter: Callable[[], Column] | None = None,
):
    """Union view of an index store's BASE tree ({path}/{store},
    pfx-partitioned, probe-prunable) and its INCREMENT tree
    ({path}/{store}_inc, written by write_postings: one small
    unclustered file set per batch, prefix kept as a DATA column).
    Increments exist so a batch writes O(1) files instead of one file
    per non-empty prefix (~500 for a toy batch — the r7 daemon soak
    measured per-batch walls growing 12 -> 26 s from exactly this);
    minhash_index_compact folds them into the base. Returns None when
    neither tree exists.

    The base's layout varies by release (flat or ingest_batch=
    signatures, the r7-interim content-only hash store), so its schema
    is inferred from its footers. The increments are only ever written
    by write_postings, so they are read under their declared schemas
    (schemas.BANDED_INC / SIGS_INC / HASHES_INC) and cost no inference
    job; a _SUCCESS-only increment tree (an all-duplicate batch) reads
    as zero rows.

    `base_filter()` is called only when the base tree is read, and its
    predicate applies to the base alone. The probes pass their prefix
    IN-list this way: a partition filter on the pfx-partitioned base,
    and on the increments a row filter their broadcast join already
    applies — so an index of increments only (curate's, which never
    compacts) never pays the driver action that builds the list."""
    parts = []
    base = _try_read_parquet(spark, f"{path}/{store}")
    if base is not None:
        if store == "hashes" and "content_hash" in base.columns:
            # r7-interim v3 layout: content-only, no kind column
            base = base.select(
                F.col("content_hash").alias("hash"),
                F.lit("content").alias("kind"),
                "hpfx",
            )
        base = base.select(*columns)
        if base_filter is not None:
            base = base.where(base_filter())
        parts.append(base)
    inc_p = f"{path}/{store}_inc"
    if path_exists(spark, inc_p):
        inc = spark.read.schema(_INC_SCHEMAS[store]).parquet(inc_p)
        parts.append(inc.select(*columns))
    if not parts:
        return None
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def exact_hash_probe(spark, path: str, batch_sigs: DataFrame) -> DataFrame:
    """EXACT-duplicate tier of the incremental index: batch doc_ids whose
    content_hash OR sig_hash already exists in {path}/hashes (verbatim
    copies and signature-identical variants respectively — both score
    est_jaccard exactly 1.0 in the banded tier, so anti-joining them away
    first leaves the keep-set unchanged for any threshold <= 1 while the
    quadratic template-bucket candidate work disappears). Same serve
    shape as the banded probe — when the index has a compacted base, a
    bounded driver action collects the batch's distinct hash prefixes
    and the IN-list prunes the base scan to the partitions those hashes
    can live in (an increments-only index skips that action, see
    _read_store), and the batch side is BROADCAST so the store never
    shuffles.
    Returns a one-column (doc_id) frame; an empty frame when the index
    predates the hash store (schema v2 and earlier); an r7-interim v3
    store (content_hash column, no kind) degrades to content-only
    matching. Worst case mirrors the banded probe's: a large batch
    covers all 256 prefixes and the tier costs one scan-local pass over
    the hash store — the SMALLEST store (two 16-byte hashes per corpus
    doc vs 16 posting rows), so the exact tier is never the probe's
    dominant term."""
    bh = _batch_hash_frame(batch_sigs)
    idx = _read_store(
        spark,
        path,
        "hashes",
        ["kind", "hash", "hpfx"],
        base_filter=lambda: F.col("hpfx").isin(
            [r["hpfx"] for r in bh.select("hpfx").distinct().collect()]
        ),
    )
    if idx is None:
        return bh.select("doc_id").limit(0)
    return (
        idx.join(
            F.broadcast(bh),
            (idx["kind"] == bh["kind"]) & (idx["hash"] == bh["hash"]),
        )
        .select("doc_id")
        .distinct()
    )




def exact_within_drops(
    sigs: DataFrame, hash_col: str = "content_hash"
) -> DataFrame:
    """Within-batch exact tier: doc_ids that duplicate a lower-id
    document in the SAME batch under `hash_col` equality (one
    representative — the min doc_id — survives per hash value; null
    hashes pass through untouched). Map-side-combined min per hash, then
    an anti-join; O(batch). incremental_dedup_keep runs this before the
    banded within-batch tier for the same reason as the cross-batch hash
    store: a copy-heavy batch otherwise pairs its copies quadratically
    inside identical LSH buckets, and the keep-set is provably unchanged
    (hash_col="content_hash": verbatim copies; "sig_hash":
    signature-identical variants — either way the pair scores
    est_jaccard exactly 1.0 in the banded tier, whose min-id-wins rule
    drops exactly the non-representatives. The sig tier inherits the
    banded tier's documented zero-signature family: sub-k/null docs
    collapse to one representative there too, the same verdict the
    banded tier would give them — callers filter sub-k docs). The
    default stays "content_hash" — the DuckDB-oracle-checkable contract
    (docs_exact_within_reps); incremental_dedup_keep passes "sig_hash",
    a superset (equal text implies equal signature). Returns a
    one-column (doc_id) drop frame."""
    hashed = sigs.where(F.col(hash_col).isNotNull())
    reps = hashed.groupBy(hash_col).agg(F.min("doc_id").alias("doc_id"))
    return hashed.select("doc_id", hash_col).join(
        reps, [hash_col, "doc_id"], "left_anti"
    ).select("doc_id")


def minhash_probe_index(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe a minhash_index_build index with an incoming batch: which
    corpus documents is each new document a near-duplicate candidate of?
    `sigs`: optional precomputed materialized batch signatures (see
    minhash_lsh_pairs).

    Output: (new_doc_id, corpus_doc_id, n_bands_matched, est_jaccard) —
    est_jaccard is the signature-agreement fraction, same contract as
    minhash_lsh_pairs.

    Scale shape (the whole point): the batch side is SMALL relative to
    the corpus, so the batch's banded frame is BROADCAST and the index
    never shuffles — each scan task tests its own posting rows against
    the in-memory batch buckets. When the index has a compacted base,
    the probe first collects its bounded distinct bucket-prefix list
    (<= 256 values, model-parameter sized) and pushes it as a partition
    filter on the base, so a small batch reads a small fraction of the
    base files. Corpus work per probe is O(index partitions touched),
    not O(corpus). The increments carry the prefix as a data column,
    where the IN-list would only repeat the broadcast join's own filter,
    so an increments-only index skips the collect (see _read_store).

    Honest worst case: a batch with >= ~500 distinct buckets covers all
    256 prefixes and the filter prunes nothing — the probe then costs
    one full scan-local pass over the posting store (columnar, no
    shuffle, no pairing beyond bucket hits). That is the intended trade:
    probe cost is bounded by index BYTES once per batch, never by
    corpus^2 pairing, and batching more docs per probe amortizes it.
    Verbatim-copy traffic should be removed first via exact_hash_probe
    (exact tier) so it never inflates bucket hit counts.
    """
    # ONE materialization: the compact signature frame (the only Python
    # stage). The banded expansion below is cheap codegen'd array work
    # its consumers (the pfx IN-list collect, the broadcast join side)
    # re-derive from the checkpointed blocks — a second eager checkpoint
    # of the 16x-exploded band frame bought nothing but a fixed extra
    # job per probe, which the streaming daemon pays per micro-batch
    # (r6 bench: probe wall ~all fixed job setup).
    if sigs is not None:
        bsigs = sigs
    else:
        # hash columns pruned pre-checkpoint (see minhash_lsh_pairs) —
        # the standalone probe's exact tier is the CALLER's composition.
        # LAZY (r15): the first action over it (the pfx-list collect on
        # an index with a base, else the caller's) runs the Python
        # signature pass and persists the blocks in the same job.
        bsigs = minhash_signatures(
            fan_out(new_docs), text_col, k, num_hashes, seed
        ).select("doc_id", "minhash").localCheckpoint(eager=False)
    bband = _banded_frame(bsigs, num_hashes, bands).withColumn(
        "pfx", F.substring("bucket", 1, 2)
    )
    # Bounded driver action, run only against a base: the distinct
    # prefix IN-list (<= 256 strings).
    store = _read_store(
        spark,
        path,
        "banded",
        ["doc_id", "band", "bucket", "pfx"],
        base_filter=lambda: F.col("pfx").isin(
            [r["pfx"] for r in bband.select("pfx").distinct().collect()]
        ),
    )
    csigs_store = _read_store(spark, path, "sigs", ["doc_id", "minhash"])
    if store is None or csigs_store is None:
        # index holds no rows yet (e.g. every batch so far was all-dup):
        # zero candidates, not an error
        return spark.createDataFrame(
            [],
            "new_doc_id long, corpus_doc_id long, n_bands_matched long, "
            "est_jaccard double",
        )
    cand = (
        store.alias("c")
        .join(
            F.broadcast(bband.alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.bucket") == F.col("n.bucket"))
            & (F.col("c.doc_id") != F.col("n.doc_id")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )
    csigs = csigs_store.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("minhash").alias("_mh_c")
    )
    nsigs = bsigs.select(
        F.col("doc_id").alias("new_doc_id"), F.col("minhash").alias("_mh_n")
    )
    # Candidates are sparse; AQE broadcasts the candidate side against the
    # signature store (no hint: csigs is corpus-cardinality).
    pairs = (
        cand.join(csigs, "corpus_doc_id")
        .join(F.broadcast(nsigs), "new_doc_id")
        .withColumn(
            "n_hash_agree",
            F.size(
                F.filter(
                    F.zip_with(F.col("_mh_n"), F.col("_mh_c"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ),
        )
        .withColumn(
            "est_jaccard",
            F.round(F.col("n_hash_agree").cast("double") / num_hashes, 6),
        )
    )
    return pairs.select(
        "new_doc_id", "corpus_doc_id", "n_bands_matched", "est_jaccard"
    )


def minhash_index_exists(spark, path: str) -> bool:
    """Whether `path` holds a MinHash index: its posting-list BASE tree
    (minhash_index_build, compaction) or its INCREMENT tree
    (write_postings). Checked through the Hadoop
    FileSystem API, so remote and file:// URIs answer like local paths."""
    return path_exists(spark, f"{path}/banded") or path_exists(
        spark, f"{path}/banded_inc"
    )


def incremental_dedup_keep(
    spark,
    index_path: str,
    docs: DataFrame,
    est_threshold: float = 0.9,
    sigs: DataFrame | None = None,
    mark: Callable[[str], None] | None = None,
) -> DataFrame:
    """One batch's keep-list against a persistent MinHash index — the
    incremental-dedup core shared by plans/curate.py (one call per crawl
    drop) and streaming/dedup_stream.py (one call per micro-batch).
    Every incoming document is checked against everything accepted
    before it, and the first one seen wins. Tiers, cheapest first:

      1. exact hash probe: drop verbatim copies and signature-identical
         variants of indexed documents by hash equality (O(batch); equal
         content has est_jaccard 1.0, so the keep-set is unchanged while
         the banded tier's quadratic template-bucket work disappears);
      2. near-dup index probe: drop documents with an indexed candidate
         at est_jaccard >= est_threshold;
      3. within-batch exact tier: one min-id representative per
         signature before anything is paired;
      4. within-batch banded tier: drop greatest(doc_a, doc_b) of every
         pair at est_jaccard >= est_threshold (the min id is kept).

    Each tier is a broadcast semi/anti-join of the small batch side
    against a larger frame. Tiers 1-2 run only when `index_path` holds
    an index (minhash_index_exists); a first batch runs 3-4 only. The
    index is never written here: callers fold the survivors with
    write_postings.

    `sigs`: the batch's materialized minhash_signatures frame covering
    exactly `docs` (which must itself be materialized), shared with the
    caller's index fold — one Python signature pass per batch. Without
    it the batch is checkpointed and signed here.

    Materialization posture (each step is the cheapest that still runs
    upstream work once): the exact-probe survivors are eager; their
    signatures are lazy (the near probe's first action materializes
    them: its bounded prefix collect on an index with a base, else the
    near-probe survivors' checkpoint); the near-probe survivors are
    eager; the within-batch signatures are lazy (the pairing build's
    detection count materializes them); the returned keep-list is
    eager.

    `mark(stage)` is called as each sub-stage finishes ('exact_probe',
    'near_probe', 'within') so callers can time the tiers. Returns the
    surviving rows of `docs`, materialized."""
    if sigs is None:
        docs = docs.localCheckpoint(eager=True)
        sigs = minhash_signatures(fan_out(docs)).localCheckpoint(eager=True)

    def _mark(stage: str) -> None:
        if mark is not None:
            mark(stage)

    novel = docs
    if minhash_index_exists(spark, index_path):
        exact = exact_hash_probe(
            spark,
            index_path,
            sigs.join(docs.select("doc_id"), "doc_id", "left_semi"),
        )
        fresh = docs.join(F.broadcast(exact), "doc_id", "left_anti")
        fresh = fresh.localCheckpoint(eager=True)
        _mark("exact_probe")
        fresh_sigs = sigs.join(
            fresh.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        dups = (
            minhash_probe_index(spark, index_path, fresh, sigs=fresh_sigs)
            .where(F.col("est_jaccard") >= est_threshold)
            .select(F.col("new_doc_id").alias("doc_id"))
            .distinct()
        )
        novel = fresh.join(F.broadcast(dups), "doc_id", "left_anti")
        novel = novel.localCheckpoint(eager=True)
        _mark("near_probe")
    novel_sigs = sigs.join(novel.select("doc_id"), "doc_id", "left_semi")
    wexact = exact_within_drops(novel_sigs, hash_col="sig_hash")
    novel = novel.join(F.broadcast(wexact), "doc_id", "left_anti")
    # the wexact broadcast builds strictly before the pairing build's
    # detection count, which then holds this lazy frame exactly once
    novel_sigs = novel_sigs.join(
        F.broadcast(wexact), "doc_id", "left_anti"
    ).localCheckpoint(eager=False)
    within = (
        minhash_lsh_pairs(novel, sigs=novel_sigs)
        .where(F.col("est_jaccard") >= est_threshold)
        .select(F.greatest("doc_a", "doc_b").alias("doc_id"))
        .distinct()
    )
    kept = novel.join(F.broadcast(within), "doc_id", "left_anti")
    kept = kept.localCheckpoint(eager=True)
    _mark("within")
    return kept


# Target bytes per increment file: Spark's default
# spark.sql.files.openCostInBytes, the read cost Spark itself charges for
# opening one file. Smaller files cost more to open than to read.
_INC_FILE_BYTES = 4 << 20


def write_postings(
    docs: DataFrame,
    path: str,
    batch_tag: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    sigs: DataFrame | None = None,
) -> int:
    """Fold one accepted batch into the index as ONE increment — the
    index fold of plans/curate.py (one call per crawl drop, tagged with
    the drop tag) and streaming/dedup_stream.py (one call per
    micro-batch, tagged with the batch id). Idempotent: each store is
    written with dynamic partition overwrite, so a replay of the same tag
    replaces its own partitions and no others.

    Layout (r7 LSM shape): the batch's postings, signatures and hashes go
    to {path}/banded_inc, {path}/sigs_inc and {path}/hashes_inc, each
    under ingest_batch=<batch_tag>/, with the prefix kept as a DATA
    column. A pfx-partitioned write (minhash_index_append) costs one file
    per non-empty prefix — ~290 for a 40-page drop, since 640 band
    buckets cover every prefix — and every later probe pays a listing job
    over those directories. Probes read base ∪ increments (_read_store:
    the base prunes on pfx, the small increments row-filter);
    minhash_index_compact folds increments into the pfx-clustered base.
    Signatures never go into {path}/sigs: a base written by
    minhash_index_build is flat, and Spark reading a tree that mixes
    flat files with ingest_batch= directories returns only the
    partitioned rows, silently hiding the rest.

    Each store gets one file per _INC_FILE_BYTES of estimated row bytes,
    at least one and at most defaultParallelism (one writer task per
    core), so a small batch writes three files and a large one keeps
    every core writing. The three sinks run as concurrent jobs over one
    materialized keep-signature frame, like minhash_index_build.

    `sigs`: optional precomputed signatures covering exactly `docs`
    (minhash_signatures output; the callers pass a semi-join of their
    materialized batch signatures). Returns the number of signature rows
    folded — the batch's row count."""
    if sigs is None:
        sigs = minhash_signatures(fan_out(docs), text_col, k, num_hashes, seed)
    # lazy: the count is the one job that materializes it, and it sizes
    # the increment files; the three writes read its blocks
    sigs = sigs.localCheckpoint(eager=False)
    n = sigs.count()
    banded = _banded_frame(sigs, num_hashes, bands).withColumn(
        "pfx", F.substring("bucket", 1, 2)
    )
    hashes = _batch_hash_frame(sigs).select("kind", "hash", "hpfx").distinct()
    width = sigs.sparkSession.sparkContext.defaultParallelism

    def _write(df: DataFrame, store: str, est_bytes: int) -> None:
        files = min(width, max(1, -(-est_bytes // _INC_FILE_BYTES)))
        _overwrite_batch(
            df.coalesce(files).withColumn("ingest_batch", F.lit(batch_tag)),
            f"{path}/{store}",
        )

    # estimated uncompressed row bytes: doc_id + band + sha1 hex + pfx;
    # doc_id + signature + two md5 hex; kind + md5 hex + hpfx (<= 2/doc)
    _run_parallel(
        lambda: _write(banded, "banded_inc", n * bands * 54),
        lambda: _write(sigs, "sigs_inc", n * (8 * num_hashes + 72)),
        lambda: _write(hashes, "hashes_inc", n * 2 * 40),
    )
    return n


def _overwrite_batch(df: DataFrame, path: str) -> None:
    """Replace exactly the ingest_batch partitions `df` carries under
    `path` (dynamic partition overwrite, set on the writer: foreachBatch
    hands its callback a cloned session, which a session conf would not
    reach)."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("ingest_batch").parquet(path)


def minhash_index_compact(
    spark, path: str, tag: str = "base", exclude_tags: set[str] | None = None
) -> dict[str, tuple[int, int]]:
    """Index maintenance: rewrite the posting-list store's accumulated
    small files into pfx-clustered right-sized ones — the lifecycle task
    behind a long-lived incremental dedup index (every
    minhash_index_append adds O(pfx) files and every write_postings a
    few; after thousands of batches the probe's scan cost is file opens
    and listing, not bytes). Same crash-safe temp-write + rename-aside
    swap as the cert store's compact_store (sources/sinks.py /
    fsutil.py).

    Handles both layouts: the batch index ({path}/banded/pfx=XX) is
    rewritten in place; the STREAMING layout — per-batch INCREMENT trees
    ({store}_inc/ingest_batch=T, unclustered; see _read_store) plus an
    optionally pre-existing base — is folded into one pfx-clustered base
    under ingest_batch=<tag> and the increment trees are deleted.

    Replay interaction: a checkpointed stream can re-deliver ONLY the
    in-flight (uncommitted) batch; everything older is committed and
    never replays. Two safe ways to run this therefore exist:
    - stream STOPPED, checkpoint intact, exclude_tags=None — the
      original contract: fold everything (nothing is in flight);
    - stream LIVE, from inside its own foreachBatch, with
      `exclude_tags={current batch id}` — the auto-compaction hook
      (streaming/dedup_stream.py): rows under an excluded tag stay in
      their original per-tag partitions (increments keep the tag's
      subtree; a sigs base written with ingest_batch partitions by
      earlier releases keeps the tag's partition in the rewritten
      tree), so a crash-replay's dynamic partition overwrite of that tag
      replaces exactly its own rows — never a second copy beside a
      consolidated one.

    Probe results are unchanged either way (pytest-asserted); returns
    {store: (files_before, files_after)}.
    """
    from ct_mapreduce_spark.fsutil import (
        TMP_SUFFIX,
        count_parquet_files,
        delete_path,
        recover_swap,
        swap_into_place,
    )

    DATA_COLS = {
        "banded": ["doc_id", "band", "bucket"],
        "sigs": None,  # keep whatever signature columns the store carries
        "hashes": ["kind", "hash"],
    }
    exclude = {str(t) for t in (exclude_tags or ())}
    out: dict[str, tuple[int, int]] = {}
    for store in ("banded", "sigs", "hashes"):
        base_p, inc_p = f"{path}/{store}", f"{path}/{store}_inc"
        if not (path_exists(spark, base_p) or path_exists(spark, inc_p)):
            continue
        recover_swap(spark, base_p)
        parts = []
        streaming = False
        inc_tags: set[str] = set()
        for p, is_inc in ((base_p, False), (inc_p, True)):
            t = _try_read_parquet(spark, p)
            if t is None:
                continue
            if store == "hashes" and "content_hash" in t.columns:
                t = t.select(
                    F.col("content_hash").alias("hash"),
                    F.lit("content").alias("kind"),
                )
            has_tag = "ingest_batch" in t.columns
            streaming = streaming or has_tag
            # partition values read back type-inferred (all-numeric tags
            # come back int): compare and record as strings throughout
            tag_str = (
                F.col("ingest_batch").cast("string") if has_tag else None
            )
            if is_inc and has_tag and exclude:
                # the in-flight batch's increment partitions stay on disk
                # untouched — a crash-replay's dynamic overwrite replaces
                # exactly them; only committed tags fold into the base
                inc_tags |= {
                    str(r["ingest_batch"])
                    for r in t.select("ingest_batch").distinct().collect()
                }
                t = t.where(~tag_str.isin(sorted(exclude)))
            cols = DATA_COLS[store] or [
                c for c in t.columns if c != "ingest_batch"
            ]
            if streaming:
                # the rewritten base keeps an excluded tag's rows (sigs
                # store: replay overwrites that PARTITION of this tree)
                # under their own tag; everything else collapses to `tag`
                keep = (
                    F.when(tag_str.isin(sorted(exclude)), tag_str)
                    .otherwise(F.lit(tag))
                    if (has_tag and exclude and not is_inc)
                    else F.lit(tag)
                )
                t = t.select(*cols, keep.alias("_keep_tag"))
            else:
                t = t.select(*cols)
            parts.append(t)
        if not parts:  # only empty (_SUCCESS-only) trees: nothing to fold
            continue
        df = parts[0]
        for t in parts[1:]:
            df = df.unionByName(t, allowMissingColumns=True)
        if streaming:
            df = df.withColumn(
                "ingest_batch", F.coalesce(F.col("_keep_tag"), F.lit(tag))
            ).drop("_keep_tag")
        # re-derive prefix columns from their source rather than trusting
        # the partition column read-back (partition values are
        # type-inferred; an all-numeric prefix set would come back int
        # and drop its zero-padding)
        if store == "banded":
            df = df.withColumn("pfx", F.substring("bucket", 1, 2))
        elif store == "hashes":
            if streaming:  # tags collapsed -> dedup hashes across them
                df = df.distinct()
            df = df.withColumn("hpfx", F.substring("hash", 1, 2))
        before = count_parquet_files(spark, base_p) + count_parquet_files(
            spark, inc_p
        )
        if store == "sigs":
            writer = df.coalesce(max(1, before // 8))
            part_cols: list[str] = []
        else:
            pfx_col = "pfx" if store == "banded" else "hpfx"
            writer = df.repartition(F.col(pfx_col))
            part_cols = [pfx_col]
        if streaming:
            part_cols = ["ingest_batch"] + part_cols
        w = writer.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(base_p + TMP_SUFFIX)
        swap_into_place(spark, base_p + TMP_SUFFIX, base_p)
        if exclude and inc_tags:
            # fold committed tags only; the excluded (in-flight) tag's
            # partitions stay for the replay contract
            for t_ in sorted(inc_tags - exclude):
                delete_path(spark, f"{inc_p}/ingest_batch={t_}")
        else:
            delete_path(spark, inc_p)
        out[store] = (
            before,
            count_parquet_files(spark, base_p)
            + count_parquet_files(spark, inc_p),
        )
    return out


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    doc_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id)
    with cluster_id = min doc_id in the component (the same first-seen-
    wins canonicalization as exact_dedup). This is the last step of a
    dedup pipeline: pair candidates (MinHash/SimHash/Jaccard tiers) into
    keep/drop groups.

    Algorithm: iterative min-label propagation (GraphX-connected-
    components shape restated in DataFrame ops). Each round every node
    takes the min of its own label and its neighbors' labels; rounds
    needed = graph diameter. Near-dup components are tiny dense clusters
    (boilerplate families), so convergence is a handful of rounds; the
    per-round driver-side `.count()` is a scalar convergence check, not a
    data collect. Labels are localCheckpointed each round to truncate the
    exponentially-growing lineage.

    Scale: each round is one shuffle (join on node) + one groupBy(min) —
    both keyed by doc id, so AQE reuses the clustering; edges are sparse
    (bucketed candidate pairs, not all-pairs).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = docs.select(
        F.col(doc_col).alias("node"), F.col(doc_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        _LOG.warning(
            "dedup_clusters: min-label propagation did not converge in %d "
            "rounds; emitting current labels (component diameter exceeds "
            "max_iter)",
            max_iter,
        )
    return labels.select(
        F.col("node").alias(doc_col), F.col("label").alias("cluster_id")
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc, materialized as four 16-bit chunk columns
    c0..c3 (all integer arithmetic — no 64-bit-in-double precision traps).

    Plan: explode distinct tokens -> xxhash64 -> one groupBy(doc_id) with
    64 conditional-sum aggregates (sign counts per bit), then chunk
    assembly is a pure projection. One shuffle keyed by doc_id; map-side
    partial aggregation keeps the shuffle narrow.
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok_tbl = docs.select(
        "doc_id", F.explode(F.transform(toks, lambda t: F.xxhash64(t))).alias("h")
    )
    aggs = []
    for b in range(64):
        bit = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{b}"))
    sums = tok_tbl.groupBy("doc_id").agg(*aggs)
    chunk_cols = []
    for i in range(4):
        expr = F.lit(0)
        for j in range(16):
            expr = expr + F.when(F.col(f"b{i * 16 + j}") > 0, F.lit(1 << j)).otherwise(0)
        chunk_cols.append(expr.cast("long").alias(f"c{i}"))
    return sums.select("doc_id", *chunk_cols)


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup candidates within a hamming radius.

    Blocking: candidates must share at least one exact 16-bit chunk
    (pigeonhole-complete for hamming <= 3; standard recall/cost trade for
    radius 8). Hamming distance = sum of per-chunk xor popcounts —
    integer-exact.
    """
    sigs = simhash_signatures(docs, text_col)
    chunks = sigs.select(
        "doc_id",
        "c0",
        "c1",
        "c2",
        "c3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("chunk"), F.col(f"c{i}").alias("ckey"))
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "c0", "c1", "c2", "c3", "cc.chunk", "cc.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.c{i}").alias(f"a_c{i}") for i in range(4)],
            *[F.col(f"b.c{i}").alias(f"b_c{i}") for i in range(4)],
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.lit(0)
    for i in range(4):
        ham = ham + F.bit_count(F.col(f"a_c{i}").bitwiseXOR(F.col(f"b_c{i}")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
