"""Tests for the north-star LLM-pipeline operators: recall of approximate
tiers against exact oracles, and multimodal plumbing mechanics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ct_mapreduce_spark.operators import dedup_fuzzy, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    return df


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates must recover the clearly-similar pairs the exact
    jaccard tier finds (J >= 0.35 -> expected band-collision prob >= ~99%
    at 16 bands x 4 rows)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_fuzzy.ngram_jaccard_pairs(docs, threshold=0.35).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup_fuzzy.minhash_lsh_pairs(docs).collect()
    }
    if exact:
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} pairs"


def test_minhash_index_probe_matches_oneshot(spark, docs, tmp_path):
    """Incremental contract: probing the corpus index with a batch must
    return exactly the batch-vs-corpus slice of the one-shot operator run
    over the union (no cap triggers at this scale)."""
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    idx = str(tmp_path / "mh_idx")
    dedup_fuzzy.minhash_index_build(corpus, idx)
    got = {
        (r.new_doc_id, r.corpus_doc_id): (r.n_bands_matched, r.est_jaccard)
        for r in dedup_fuzzy.minhash_probe_index(spark, idx, batch).collect()
    }
    oneshot = dedup_fuzzy.minhash_lsh_pairs(docs, max_bucket_width=None)
    want = {}
    for r in oneshot.collect():
        a_new, b_new = r.doc_a % 10 == 0, r.doc_b % 10 == 0
        if a_new != b_new:  # cross pairs only, keyed (new, corpus)
            key = (r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a)
            want[key] = (r.n_bands_matched, r.est_jaccard)
    assert got == want and len(got) > 0


def test_minhash_index_append_lifecycle(spark, docs, tmp_path):
    """Probe -> append -> probe: after a batch is folded into the index,
    the next batch's near-dups of THAT batch are found too."""
    corpus = docs.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    b1 = docs.where(F.col("doc_id") % 10 == 0)
    b2 = docs.where(F.col("doc_id") % 10 == 5)
    idx = str(tmp_path / "mh_idx_app")
    dedup_fuzzy.minhash_index_build(corpus, idx)
    before = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in dedup_fuzzy.minhash_probe_index(spark, idx, b2).collect()
    }
    dedup_fuzzy.minhash_index_append(b1, idx)
    after = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in dedup_fuzzy.minhash_probe_index(spark, idx, b2).collect()
    }
    assert before <= after
    b1_ids = {r.doc_id for r in b1.select("doc_id").collect()}
    gained = {c for _, c in after - before}
    assert gained <= b1_ids  # new hits come only from the appended batch
    # the union-index probe equals one-shot cross pairs over everything
    oneshot = dedup_fuzzy.minhash_lsh_pairs(docs, max_bucket_width=None)
    want = set()
    for r in oneshot.collect():
        a5, b5 = r.doc_a % 10 == 5, r.doc_b % 10 == 5
        if a5 != b5:
            want.add((r.doc_a, r.doc_b) if a5 else (r.doc_b, r.doc_a))
    assert after == want


def test_content_hash_probe_exact_tier(spark, docs, tmp_path):
    """The exact tiers: verbatim copies AND signature-identical variants
    (same tokens, different bytes — whitespace noise) of indexed content
    are identified by hash equality (under NEW doc_ids — the
    id-containment tier can't see them), near-miss content is NOT (it
    stays the fuzzy tier's job), and an index predating the hash store
    yields an empty frame."""
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    idx = str(tmp_path / "mh_idx_exact")
    dedup_fuzzy.minhash_index_build(corpus, idx)
    some = corpus.limit(5).collect()
    batch = spark.createDataFrame(
        [(900001 + i, r["text"]) for i, r in enumerate(some)]  # verbatim
        # same token stream, different bytes: identical shingle set =>
        # identical signature => sig tier, NOT the content tier
        + [(900050, "  " + some[1]["text"].replace(" ", "   ") + "  ")]
        # near-miss with HALF the shingles replaced — signature differs
        # (an append-only perturbation can keep all 64 minima: min over
        # a superset never rises — that case correctly lands in the sig
        # tier since the banded tier would score it est_jaccard 1.0)
        + [(
            900100,
            some[0]["text"][: len(some[0]["text"]) // 2]
            + " an entirely rewritten second half of this page body with"
            " none of the original trailing words present anymore",
        )]
        + [(900101, "entirely novel content never indexed before")],
        "doc_id long, text string",
    )
    bsigs = dedup_fuzzy.minhash_signatures(batch)
    # sanity: the whitespace variant really is content-different but
    # signature-identical to its source doc
    src = dedup_fuzzy.minhash_signatures(
        spark.createDataFrame(
            [(1, some[1]["text"])], "doc_id long, text string"
        )
    ).collect()[0]
    var = {r["doc_id"]: r for r in bsigs.collect()}[900050]
    assert var["content_hash"] != src["content_hash"]
    assert var["sig_hash"] == src["sig_hash"]
    hit = {r["doc_id"] for r in dedup_fuzzy.exact_hash_probe(spark, idx, bsigs).collect()}
    assert hit == {900001 + i for i in range(5)} | {900050}, hit
    # pruned scan: the hash-store read carries an hpfx partition filter
    out = dedup_fuzzy.exact_hash_probe(spark, idx, bsigs)
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters: [hpfx" in l for l in plan.splitlines()
    ), "hash-store scan not hpfx-pruned:\n" + plan[:1500]
    # legacy index without a hash store -> empty, not an error
    import shutil as sh

    sh.rmtree(idx + "/hashes")
    assert dedup_fuzzy.exact_hash_probe(spark, idx, bsigs).count() == 0


def test_minhash_index_compact_preserves_probe(spark, docs, tmp_path):
    """Compaction lifecycle: after several appends the store carries many
    small files; minhash_index_compact rewrites them pfx-clustered with
    probe results bit-identical, for BOTH layouts (batch index and the
    streaming ingest_batch=T layout consolidated under one tag)."""
    import glob as g

    from ct_mapreduce_spark.streaming.dedup_stream import write_postings

    corpus = docs.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    b1 = docs.where(F.col("doc_id") % 10 == 0)
    probe_batch = docs.where(F.col("doc_id") % 10 == 5)

    # batch layout: build + 3 appends (slices of b1)
    idx = str(tmp_path / "mh_idx_cpt")
    dedup_fuzzy.minhash_index_build(corpus, idx)
    for m in range(3):
        dedup_fuzzy.minhash_index_append(b1.where(F.col("doc_id") % 3 == m), idx)
    before_files = len(g.glob(idx + "/banded/*/*.parquet"))
    want = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_probe_index(spark, idx, probe_batch).collect()
    )
    stats = dedup_fuzzy.minhash_index_compact(spark, idx)
    after_files = len(g.glob(idx + "/banded/*/*.parquet"))
    assert after_files < before_files
    assert stats["banded"][1] < stats["banded"][0]
    got = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_probe_index(spark, idx, probe_batch).collect()
    )
    assert got == want and len(got) > 0
    # pruning still applies post-compaction
    out = dedup_fuzzy.minhash_probe_index(spark, idx, docs.where(F.col("doc_id") < 3))
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters: [pfx" in l for l in plan.splitlines()
    ), "compacted index lost pfx pruning"

    # streaming layout: three tags consolidate under one, probe unchanged
    sidx = str(tmp_path / "mh_sidx_cpt")
    write_postings(corpus, sidx, batch_tag="base")
    for m in range(2):
        write_postings(b1.where(F.col("doc_id") % 2 == m), sidx, batch_tag=str(m))
    swant = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_probe_index(spark, sidx, probe_batch).collect()
    )
    dedup_fuzzy.minhash_index_compact(spark, sidx)
    tags = {p.split("=")[-1] for p in g.glob(sidx + "/banded/ingest_batch=*")}
    assert tags == {"base"}
    sgot = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_probe_index(spark, sidx, probe_batch).collect()
    )
    assert sgot == swant and len(sgot) > 0


def test_minhash_index_probe_prunes_partitions(spark, docs, tmp_path):
    """The probe's index scan must carry a pfx partition filter (the
    bounded bucket-prefix IN-list) — the 100 TB serve contract: a small
    batch reads a small fraction of the posting files."""
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") < 3)
    idx = str(tmp_path / "mh_idx2")
    dedup_fuzzy.minhash_index_build(corpus, idx)
    out = dedup_fuzzy.minhash_probe_index(spark, idx, batch)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (match the filter clause itself: Spark truncates the Location path,
    # so the index dir name may not survive into the printed line)
    assert any(
        "PartitionFilters: [pfx" in l and "INSET" in l
        for l in plan.splitlines()
    ), "probe scan lost the pfx partition filter:\n" + plan[:2000]
    # the serve contract's other half: the batch side broadcasts (the
    # index never shuffles) — the whole probe plan carries at most the
    # candidate-aggregation exchanges, keyed on the SPARSE candidate
    # pairs, never a corpus-sized repartition (audit shape: 1 exchange,
    # 3 broadcast joins)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_minhash_estimate_tracks_exact(spark, docs):
    """est_jaccard from signature agreement should correlate with exact J
    on flagged pairs (loose band: +-0.25 absolute)."""
    exact = dedup_fuzzy.ngram_jaccard_pairs(docs, threshold=0.1).select(
        "doc_a", "doc_b", "jaccard"
    )
    est = dedup_fuzzy.minhash_lsh_pairs(docs).select("doc_a", "doc_b", "est_jaccard")
    joined = exact.join(est, ["doc_a", "doc_b"]).collect()
    for r in joined:
        assert abs(r.jaccard - r.est_jaccard) < 0.25, dict(r.asDict())


def test_minhash_lsh_hot_bucket_cap(spark):
    """Adversarial corpus: 1k identical boilerplate docs land in ONE bucket
    per band. The deterministic cap must bound per-band all-pair fan-out to
    C(cap+1, 2) (top-cap by hash plus the min-id anchor) plus one spanning
    anchor-star pair per truncated member, instead of C(1000, 2) — and the
    anchor star must reach EVERY member: doc 0 (the min id) pairs with all
    999 others, so under the keep rule the whole family still collapses."""
    n, cap, bands = 1000, 32, 16
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    df = spark.createDataFrame([Row(doc_id=i, text=boiler) for i in range(n)])
    rows = dedup_fuzzy.minhash_lsh_pairs(df, max_bucket_width=cap).collect()
    got = len(rows)
    # All bands share the same surviving member set (same signature, same
    # rank hash), so distinct pairs <= C(cap+1,2) + (n - cap - 1); a
    # quadratic blowup would be C(1000,2) = 499_500.
    assert 0 < got <= (cap + 1) * cap // 2 + (n - cap - 1), got
    # spanning star: every doc is paired with the min-id anchor
    partners_of_0 = {r.doc_b for r in rows if r.doc_a == 0}
    assert partners_of_0 == set(range(1, n))
    # Uncapped-but-bounded control: cap=None on a small corpus still works.
    small = spark.createDataFrame([Row(doc_id=i, text=boiler) for i in range(20)])
    assert dedup_fuzzy.minhash_lsh_pairs(small, max_bucket_width=None).count() == 190


def test_minhash_lsh_template_cap_matches_independent_oracle(spark, tmp_path):
    """The r14 cap semantics (fraction-aware template cap + min-id anchor
    star) are DECLARED semantics: the no-Spark re-derivation in
    tools/independent_oracle.py must bit-match the engine on a corpus
    where every branch binds — template bucket (frac cap), merely-hot
    bucket (flat cap), healthy buckets — and diverge when a cap parameter
    is corrupted (proof it is a second derivation, not a mirror)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import independent_oracle as io_

    boiler = "shared chrome header nav footer copyright terms privacy menu"
    fam = "a genuinely similar page body that repeats across the family"
    corpus = (
        # template family: 40 identical docs -> one mega bucket per band
        [Row(doc_id=i, text=boiler) for i in range(40)]
        # second family: 12 identical docs -> hot but under the frac cut
        + [Row(doc_id=100 + i, text=fam) for i in range(12)]
        # healthy singletons
        + [
            Row(doc_id=200 + i, text=f"unique document number {i} with "
                f"entirely distinct content token{i} token{i + 1} token{i + 2}")
            for i in range(12)
        ]
    )
    df = spark.createDataFrame(corpus)
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    # N=64 docs; frac=0.25 -> template threshold max(8, 16): the 40-wide
    # bucket is template (cap min(3, 8) = 3), the 12-wide one merely hot
    # (flat cap 8), singletons untouched.
    params = dict(
        max_bucket_width=8, template_bucket_frac=0.25, template_bucket_width=3
    )
    engine = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_lsh_pairs(df, **params).collect()
    )
    oracle = [tuple(r) for r in io_.docs_minhash_lsh_dedup(str(tmp_path), **params)]
    assert engine == oracle and len(engine) > 0
    # corrupting the template cap must move BOTH derivations' output
    assert [
        tuple(r)
        for r in io_.docs_minhash_lsh_dedup(
            str(tmp_path), max_bucket_width=8,
            template_bucket_frac=0.25, template_bucket_width=5,
        )
    ] != engine
    # flat-cap mode (frac=None) also bit-matches
    engine_flat = sorted(
        tuple(r)
        for r in dedup_fuzzy.minhash_lsh_pairs(
            df, max_bucket_width=8, template_bucket_frac=None
        ).collect()
    )
    oracle_flat = [
        tuple(r)
        for r in io_.docs_minhash_lsh_dedup(
            str(tmp_path), max_bucket_width=8, template_bucket_frac=None
        )
    ]
    assert engine_flat == oracle_flat and engine_flat != engine


def test_minhash_dedup_keep_megafamily_recall(spark, tmp_path):
    """The anchor star's reason to exist: a genuine near-dup family WIDER
    than the bucket cap (sig-distinct variants, est_jaccard >= 0.9) must
    still fully collapse to its min id — pre-r14 pure truncation falsely
    kept every family member ranked past the cap in all its buckets. Also
    bit-checks the keep-list against the independent re-derivation."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import independent_oracle as io_

    # long base (~160 distinct shingles) so two appended unique tokens
    # leave pairwise est_jaccard ~0.97 — well above the 0.9 threshold
    base = " ".join(f"tok{j}" for j in range(160))
    fam_n = 120
    corpus = [
        # each variant appends two unique tokens: signature differs for
        # most docs (sig-identical ones collapse in the exact tier — same
        # verdict), pairwise est_jaccard stays ~0.95+
        Row(doc_id=i, text=f"{base} variant{i} marker{i}")
        for i in range(fam_n)
    ] + [
        Row(
            doc_id=1000 + i,
            text=f"completely unrelated subject{i} matter{i} about topic{i} "
            f"with distinct vocabulary item{i} entry{i} record{i} field{i}",
        )
        for i in range(10)
    ]
    df = spark.createDataFrame(corpus)
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    params = dict(
        max_bucket_width=16, template_bucket_frac=0.05, template_bucket_width=4
    )
    kept = {
        r.doc_id
        for r in dedup_fuzzy.minhash_dedup_keep(
            df, threshold=0.9, **params
        ).collect()
    }
    # every unique doc survives; the family collapses to exactly {0}
    assert {1000 + i for i in range(10)} <= kept
    assert kept & set(range(fam_n)) == {0}, sorted(kept & set(range(fam_n)))
    oracle = {t[0] for t in io_.docs_minhash_keep(str(tmp_path), **params)}
    assert kept == oracle


def test_minhash_dedup_keep_matches_pairs_rule(spark, docs):
    """Keep-list operator == pairs + greatest-id-drop rule whenever the
    hot-bucket cap does not bind — including a grafted template family of
    25 signature-identical whitespace variants (distinct bytes, same
    token shingles) that the collapse tier must decide by signature
    equality without changing the answer."""
    src = docs.orderBy("doc_id").limit(1).collect()[0]
    variants = [
        Row(doc_id=100_000 + i, text=src.text + " " * (i + 1))
        for i in range(25)
    ]
    corpus = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(variants)
    )
    keep = {
        r.doc_id
        for r in dedup_fuzzy.minhash_dedup_keep(corpus, threshold=0.9).collect()
    }
    pairs = dedup_fuzzy.minhash_lsh_pairs(corpus)
    drop = {
        max(r.doc_a, r.doc_b)
        for r in pairs.collect()
        if r.est_jaccard >= 0.9
    }
    naive = {r.doc_id for r in corpus.select("doc_id").collect()} - drop
    assert keep == naive
    # every variant has the original (smaller id) as an est=1.0 partner
    assert all(100_000 + i not in keep for i in range(25))


def test_minhash_dedup_keep_rejects_threshold_above_one(spark, docs):
    """threshold > 1.0 would make the unconditional sig-collapse drop
    docs the pairs rule would keep — refused up front."""
    with pytest.raises(ValueError, match="threshold"):
        dedup_fuzzy.minhash_dedup_keep(docs, threshold=1.1)


def test_minhash_dedup_keep_template_family_stays_small(spark):
    """The reason the operator exists: a 2k-doc corpus that is ONE
    signature-identical template family must reach the banded tier as a
    single representative — keep-list is exactly {min doc_id}, and the
    pairing stage sees one doc (no quadratic candidate work, cap never
    involved)."""
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=boiler + " " * (i % 7)) for i in range(2000)]
    )
    keep = dedup_fuzzy.minhash_dedup_keep(df, threshold=0.9).collect()
    assert [r.doc_id for r in keep] == [0]


def test_repeated_doc_id_is_never_dropped_by_itself(spark, tmp_path):
    """A doc_id that repeats within a frame (a crawl drop that carries one
    WARC record twice) is one document: LSH pairing never pairs it with
    itself, so the min-id keep rule cannot delete it. Capped and
    uncapped pairing, the one-shot keep-list and the incremental core's
    within-batch tier all keep both ids of (1,t),(1,t),(2,u)."""
    t = "the quick brown fox jumps over the lazy dog " * 3
    u = "an entirely different sentence about other things " * 3
    df = spark.createDataFrame(
        [(1, t), (1, t), (2, u)], "doc_id long, text string"
    )
    for width in (256, None):
        pairs = dedup_fuzzy.minhash_lsh_pairs(df, max_bucket_width=width)
        assert pairs.where(F.col("doc_a") == F.col("doc_b")).count() == 0
        keep = dedup_fuzzy.minhash_dedup_keep(df, max_bucket_width=width)
        assert {r.doc_id for r in keep.collect()} == {1, 2}, width
    kept = dedup_fuzzy.incremental_dedup_keep(spark, str(tmp_path / "idx"), df)
    assert {r.doc_id for r in kept.collect()} == {1, 2}


def test_pairing_width_bound(spark, docs):
    """Caps up to _ARRAY_PAIRING_MAX_WIDTH (2048) pair through one sorted
    member array per cell; a wider cap falls back to the sort-merge
    self-join, since one cell's W(W-1)/2 pair array would fill a single
    task row. Both emit the same pairs, also for a repeated doc_id."""
    bound = dedup_fuzzy._ARRAY_PAIRING_MAX_WIDTH
    assert bound == 2048
    first = [r.doc_id for r in docs.orderBy("doc_id").limit(5).collect()]
    df = docs.select("doc_id", "text")
    df = df.unionByName(df.where(F.col("doc_id").isin(first)))

    def run(width):
        pairs = dedup_fuzzy.minhash_lsh_pairs(df, max_bucket_width=width)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        return sorted(tuple(r) for r in pairs.collect()), "collect_list" in plan

    at, at_arrays = run(bound)
    above, above_arrays = run(bound + 1)
    assert at_arrays and not above_arrays
    assert at and above == at


def test_minhash_dedup_keep_uncapped_signs_once(spark):
    """minhash_dedup_keep(max_bucket_width=None) runs the signature
    stage once: a row-counting stage spliced upstream of the signature
    pass sees every document exactly once (the uncapped pairing's
    self-join must read materialized representative signatures, never
    re-derive them per side)."""
    rows = [
        (i, f"doc body {i % 7} shared words here and there " * 3)
        for i in range(40)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    acc = spark.sparkContext.accumulator(0)

    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    docs = base.mapInPandas(_count, base.schema)
    keep = dedup_fuzzy.minhash_dedup_keep(docs, max_bucket_width=None)
    assert sorted(r.doc_id for r in keep.collect()) == list(range(7))
    assert acc.value == len(rows)


def test_ngram_jaccard_no_forced_broadcast(spark, docs):
    """Scale guard (round-1 review, wrong #2): the per-document sizes table
    must not carry a broadcast hint — at corpus scale a forced broadcast of
    a documents-cardinality aggregate OOMs the driver. AQE may still choose
    a broadcast at tiny SF from measured sizes; what we assert is that the
    *plan we declare* doesn't force it."""
    j = dedup_fuzzy.ngram_jaccard_pairs(docs, threshold=0.35)
    analyzed = j._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_simhash_identical_docs_zero_hamming(spark):
    rows = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=3, text="totally different words entirely unrelated content"),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup_fuzzy.simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0


def test_exact_dedup_counts(spark):
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(["x y z", "x y z", "a b c"])]
    out = {
        r.canonical_doc_id: r.n_copies
        for r in dedup_fuzzy.exact_dedup(spark.createDataFrame(rows)).collect()
    }
    assert out == {0: 2, 2: 1}


def _planted_cluster_corpus(spark, seed=7, dim=64, n_clusters=8, per=40):
    """Corpus with real neighborhood structure: 8 unit-norm centers, 40
    members each at gaussian noise 0.08 — true top-k neighbors are
    co-cluster members, the property ANN indexes exploit. Uniform-random
    vectors measure the data, not the algorithm (every neighbor is
    near-orthogonal; any bucketing is arbitrary)."""
    import math
    import random

    rng = random.Random(seed)
    rows = []
    vid = 0
    for _c in range(n_clusters):
        center = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for _ in range(per):
            v = [x + rng.gauss(0.0, 0.08) for x in center]
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows), per


def test_ann_lsh_recall_vs_exact(spark, emb):
    """Recall >= 0.9 on the planted-cluster fixture (co-cluster vectors
    differ by a small angle, so their sign bits nearly always agree and
    they share >= 1 of 4 four-bit bands — the regime hyperplane LSH is
    for). The uniform-random `emb` table keeps a weak smoke bar only:
    near-orthogonal neighbors are indistinguishable from noise to ANY
    angular hash, so a high bar there would test the fixture, not the
    operator."""
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)  # 2 per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(corpus, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN-LSH recall@5 = {recall}"

    # smoke bar on the driver-generated random table: non-degenerate output
    q2 = emb.where(F.col("vec_id") < 20)
    exact2 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q2, k=5).collect()
    }
    approx2 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(emb, q2, k=5).collect()
    }
    assert len(exact2 & approx2) / len(exact2) >= 0.3


def test_ivf_probes_subset(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    out = similarity.ivf_topk(emb, queries, k=5).collect()
    assert len(out) == 50
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ivf_recall_vs_exact(spark):
    """IVF must recover >=90% of exact top-k at n_probe=4 when the corpus
    has real cluster structure (true neighbors share the query's cell —
    the property IVF exploits; uniform-random vectors measure the data,
    not the algorithm: every neighbor is near-orthogonal and cell
    membership is arbitrary)."""
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)  # 2 per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(corpus, queries, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@5 = {recall}"


def test_ivf_assign_tiers_agree_and_stay_narrow(spark):
    """The Arrow matmul assignment tier must pick the same cell as the
    literal-argmin tier for every corpus vector (same math, same
    lowest-cell tie-break; only last-ulp near-ties could differ, and the
    planted fixture has none), and its plan must stay shuffle-free on
    the corpus side — ArrowEvalPython is a narrow projection."""
    corpus, _per = _planted_cluster_corpus(spark)
    rows = similarity._ivf_centroid_frame(
        corpus, 16, "vec_id", "embedding", 42
    ).collect()
    lit = {
        r.n_id: r.cell
        for r in similarity._assign_nearest(
            corpus, rows, "vec_id", "embedding", "n", vectorize=False
        ).collect()
    }
    vec = {
        r.n_id: r.cell
        for r in similarity._assign_nearest(
            corpus, rows, "vec_id", "embedding", "n", vectorize=True
        ).collect()
    }
    assert lit == vec
    plan = (
        similarity._assign_nearest(
            corpus, rows, "vec_id", "embedding", "n", vectorize=True
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_ivf_large_ncells_vectorized_recall(spark):
    """n_cells=256 (x dim 64 = 16384, above _ASSIGN_INTERPRETED_BUDGET so
    the corpus assignment auto-selects the Arrow matmul tier) must still
    recover >=90% of exact top-k on planted clusters — the regime a
    100 TB corpus actually runs (thousands of cells, vectorized
    assignment)."""
    import math
    import random

    # larger fixture than _planted_cluster_corpus so 256 cells make sense
    rng = random.Random(7)
    rows, vid = [], 0
    for _c in range(64):
        center = [rng.gauss(0.0, 1.0) for _ in range(64)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for _ in range(10):
            rows.append(
                Row(
                    vec_id=vid,
                    embedding=[float(x + rng.gauss(0, 0.08)) for x in center],
                )
            )
            vid += 1
    corpus = spark.createDataFrame(rows)
    queries = corpus.where(F.col("vec_id") % 10 < 1)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            corpus, queries, k=5, n_cells=256, n_probe=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF@256 cells recall@5 = {recall}"


def test_semdedup_tiers_bit_equal(spark, emb):
    """The grouped (applyInPandas, left-to-right accumulation) tier must
    be bit-identical to the expression self-join tier."""
    a = sorted(
        tuple(r) for r in similarity.semdedup_pairs(emb, grouped=True).collect()
    )
    b = sorted(
        tuple(r) for r in similarity.semdedup_pairs(emb, grouped=False).collect()
    )
    assert a == b and len(a) > 0


def test_semdedup_auto_cells_scale_with_corpus(spark):
    """n_cells=None derives max(16, rows // target_cell_size): a corpus
    past 16*target_cell_size rows must spread into MORE than 16 cells
    (the r6 soak's constant-cell-size contract), while explicit n_cells
    stays pinned for oracle stability."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(1500, 8))
    rows = []
    for i, v in enumerate(base):
        vec = [float(x) for x in v]
        rows.append((i, vec))
        rows.append((i + 1500, vec))  # identical twin -> in-cell pair
    emb3k = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    pairs = similarity.semdedup_pairs(emb3k, threshold=0.999)
    cells = {r.cell for r in pairs.select("cell").distinct().collect()}
    # 3000 rows // 128 = 23 auto cells; twins guarantee pairs in many
    assert max(cells) > 15, f"auto n_cells did not scale: {sorted(cells)}"
    assert max(cells) <= 22 and min(cells) >= 0
    # explicit n_cells still caps the cell space (pin stability)
    pinned = similarity.semdedup_pairs(emb3k, threshold=0.999, n_cells=16)
    pcells = {r.cell for r in pinned.select("cell").distinct().collect()}
    assert max(pcells) <= 15


def test_prototype_prune_per_cell_keep_counts(spark, emb):
    """Every cell keeps exactly ceil(keep_frac * cell_n) rows; kept rows
    are that cell's LOWEST prototype cosines (hardest examples), and
    keep_hard=False flips to the highest."""
    import math

    full = similarity.prototype_prune(emb, keep_frac=1.0, n_cells=16)
    all_rows = full.collect()
    by_cell = {}
    for r in all_rows:
        by_cell.setdefault(r.cell, []).append(r)
    kept = similarity.prototype_prune(emb, keep_frac=0.5, n_cells=16).collect()
    kept_by_cell = {}
    for r in kept:
        kept_by_cell.setdefault(r.cell, []).append(r)
    for cell, rows in by_cell.items():
        want = math.ceil(0.5 * len(rows))
        got = kept_by_cell.get(cell, [])
        assert len(got) == want, (cell, len(got), want)
        hardest = sorted(rows, key=lambda r: (r.proto_cos, r.vec_id))[:want]
        assert {r.vec_id for r in got} == {r.vec_id for r in hardest}
    easy = similarity.prototype_prune(
        emb, keep_frac=0.5, n_cells=16, keep_hard=False
    ).collect()
    some_cell = max(by_cell, key=lambda c: len(by_cell[c]))
    if len(by_cell[some_cell]) >= 4:
        hard_ids = {r.vec_id for r in kept if r.cell == some_cell}
        easy_ids = {r.vec_id for r in easy if r.cell == some_cell}
        assert hard_ids != easy_ids


def test_prototype_prune_scoring_is_narrow(spark, emb):
    """The 100 TB contract: no join and no exchange before the ranking —
    assignment + prototype cosine are one literal-array projection; the
    only data shuffle is the bounded-cell rank window."""
    plan = (
        similarity.prototype_prune(emb, keep_frac=0.5, n_cells=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the counts join only


def test_pq_index_serves_identically(spark, emb, tmp_path):
    """The materialized PQ serve path: pq_build_index + pq_topk_indexed
    must be bit-identical to inline pq_topk (shared ADC expressions,
    stored codebooks = the inline estimation), with and without the
    exact re-rank tier; appending under stored codebooks matches
    building over the union."""
    idx = str(tmp_path / "pq")
    queries = emb.where(F.col("vec_id") < 8)
    similarity.pq_build_index(emb, idx)
    got = sorted(
        tuple(r)
        for r in similarity.pq_topk_indexed(spark, idx, queries, k=5).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.pq_topk(emb, queries, k=5).collect()
    )
    assert got == want and len(got) == 40
    got_rr = sorted(
        tuple(r)
        for r in similarity.pq_topk_indexed(
            spark, idx, queries, k=5, rerank_corpus=emb, rerank_factor=4
        ).collect()
    )
    want_rr = sorted(
        tuple(r)
        for r in similarity.pq_topk(emb, queries, k=5, rerank_factor=4).collect()
    )
    assert got_rr == want_rr
    # append path: half-built index + appended half == codes of the union
    idx2 = str(tmp_path / "pq2")
    similarity.pq_build_index(emb.where(F.col("vec_id") % 2 == 0), idx2)
    similarity.pq_index_append(emb.where(F.col("vec_id") % 2 == 1), idx2)
    books = similarity._pq_read_books(spark, idx2)
    appended = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(idx2 + "/codes").collect()
    }
    direct = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, books).collect()
    }
    assert appended == direct
    with pytest.raises(ValueError):
        similarity.pq_topk_indexed(spark, idx, queries, rerank_factor=2)
    # compaction folds the append slivers; serve bit-identical after
    from ct_mapreduce_spark.fsutil import count_parquet_files

    want2 = sorted(
        tuple(r)
        for r in similarity.pq_topk_indexed(spark, idx2, queries, k=5).collect()
    )
    nb, na = similarity.pq_index_compact(spark, idx2)
    assert na <= max(1, nb // 8) + 1 and na == count_parquet_files(
        spark, idx2 + "/codes"
    )
    got2 = sorted(
        tuple(r)
        for r in similarity.pq_topk_indexed(spark, idx2, queries, k=5).collect()
    )
    assert got2 == want2


def test_pq_sidecar_memo_invalidates_on_rebuild(spark, emb, tmp_path):
    """r11: the model-sidecar memo must serve the cached books for an
    unchanged index (no per-probe collect job) and invalidate when a
    rebuild rewrites the sidecar files."""
    idx = str(tmp_path / "pqmemo")
    similarity.pq_build_index(emb, idx)
    b1 = similarity._pq_read_books(spark, idx)
    b2 = similarity._pq_read_books(spark, idx)
    assert b2 is b1  # memo hit: identical object, no re-read
    # rebuild over a different corpus slice -> new sidecar bytes/mtimes
    similarity.pq_build_index(emb.where(F.col("vec_id") % 2 == 0), idx)
    b3 = similarity._pq_read_books(spark, idx)
    assert b3 is not b1
    # the memo must return the NEW model, not the stale one
    fresh = similarity._SIDECAR_MEMO.copy()
    similarity._SIDECAR_MEMO.clear()
    assert similarity._pq_read_books(spark, idx) == b3
    similarity._SIDECAR_MEMO.update(fresh)


def test_sidecar_memo_bounded_lru(spark, tmp_path):
    """r12 (r11 verdict task 4): cycling more distinct artifact
    fingerprints than the cap holds the memo AT the cap — a long-lived
    serving daemon cycling many indexes must not grow driver memory per
    fingerprint. Evicted entries just re-read their sidecar (the
    pre-memo behavior), so answers stay correct."""
    old_cap = similarity._BoundedMemo.cap
    snapshot = similarity._SIDECAR_MEMO.copy()
    similarity._SIDECAR_MEMO.clear()
    similarity._BoundedMemo.cap = 4
    try:
        paths = []
        for i in range(7):
            p = str(tmp_path / f"meta{i}")
            spark.createDataFrame(
                [(i % 2 == 0,)], "residual boolean"
            ).coalesce(1).write.mode("overwrite").parquet(p + "/_meta")
            paths.append(p)
        for i, p in enumerate(paths):
            assert similarity._pq_ivf_is_residual(spark, p) is (i % 2 == 0)
            assert len(similarity._SIDECAR_MEMO) <= 4
        assert len(similarity._SIDECAR_MEMO) == 4
        # the newest entry is a memo hit; the evicted oldest re-reads
        # from disk and re-enters — both must answer correctly
        assert similarity._pq_ivf_is_residual(spark, paths[-1]) is True
        assert similarity._pq_ivf_is_residual(spark, paths[5]) is False
        assert similarity._pq_ivf_is_residual(spark, paths[0]) is True
        assert len(similarity._SIDECAR_MEMO) == 4
    finally:
        similarity._BoundedMemo.cap = old_cap
        similarity._SIDECAR_MEMO.clear()
        similarity._SIDECAR_MEMO.update(snapshot)


def test_bounded_memo_get_refreshes_recency():
    """r13 (r12 advice): dict.get bypasses __getitem__, so without the
    get() override a .get() hit skipped the recency refresh and the
    bound degraded to FIFO — a just-read entry was evicted first. A
    .get() hit must behave exactly like an indexed read."""
    memo = similarity._BoundedMemo()
    old_cap = similarity._BoundedMemo.cap
    similarity._BoundedMemo.cap = 2
    try:
        memo["a"] = 1
        memo["b"] = 2
        assert memo.get("a") == 1  # refreshes 'a' → 'b' is now LRU
        memo["c"] = 3
        assert "a" in memo and "c" in memo and "b" not in memo
        assert memo.get("missing") is None
        assert memo.get("missing", "dflt") == "dflt"
    finally:
        similarity._BoundedMemo.cap = old_cap


def test_pq_encode_tiers_bit_equal(spark, emb):
    books = similarity.pq_codebooks(emb)
    a = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, books, vectorize=True).collect()
    }
    b = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, books, vectorize=False).collect()
    }
    assert a == b and len(a) > 0


def test_label_outliers_flags_planted(spark):
    """A vector pointing away from its label's tight cluster must be the
    flagged outlier; cluster members must not be."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):  # tight cluster around +e0
        v = [1.0] + [rng.uniform(-0.05, 0.05) for _ in range(7)]
        rows.append((i, [float(x) for x in v], 0))
    rows.append((99, [-1.0] + [0.0] * 7, 0))  # planted: anti-aligned
    for i in range(40):  # second label, also tight
        v = [0.0, 1.0] + [rng.uniform(-0.05, 0.05) for _ in range(6)]
        rows.append((200 + i, [float(x) for x in v], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.label_outliers(df).collect()
    flagged = {r["vec_id"] for r in out}
    assert 99 in flagged
    # label 0's members are shielded by the planted outlier inflating the
    # label's variance; none of them can be 2 sigma below the mean
    assert flagged.isdisjoint(range(40))
    # the planted vector is the most extreme flag overall
    assert min(out, key=lambda r: r["z_r"])["vec_id"] == 99
    # (label 1 MAY flag relative stragglers — a tight cluster's z-scores
    # legitimately single out its least-aligned member)


def test_ivf_index_append_matches_full_build(spark, emb, tmp_path):
    """Append-under-stored-centroids contract: building on half the
    corpus then appending the other half must serve the same results as
    assigning the union under the SAME centroids — i.e. identical to a
    probe against an index whose cells were assigned with the first
    build's centroid frame."""
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_app")
    similarity.ivf_build_index(half_a, idx)
    similarity.ivf_index_append(half_b, idx)
    queries = emb.where(F.col("vec_id") < 8)
    served = similarity.ivf_topk_indexed(spark, idx, queries, k=5)
    got = sorted(tuple(r) for r in served.collect())
    # reference: assign the union under the index's stored centroids
    cents = spark.read.parquet(idx + "/_centroids").collect()
    ref_idx = str(tmp_path / "ivf_ref")
    assigned = similarity._assign_nearest(emb, cents, "vec_id", "embedding", "neighbor")
    (
        assigned.withColumnRenamed("neighbor_id", "vec_id")
        .withColumnRenamed("neighbor_vec", "embedding")
        .withColumnRenamed("neighbor_norm", "vnorm")
        .write.partitionBy("cell").mode("overwrite").parquet(ref_idx)
    )
    spark.read.parquet(idx + "/_centroids").write.mode("overwrite").parquet(
        ref_idx + "/_centroids"
    )
    want = sorted(
        tuple(r)
        for r in similarity.ivf_topk_indexed(spark, ref_idx, queries, k=5).collect()
    )
    assert got == want and len(got) == 40


def test_ivf_index_compact_probe_identical(spark, emb, tmp_path):
    """Lifecycle contract for a long-lived IVF store: many clustered
    appends accumulate ~one file per touched cell each; ivf_index_compact
    folds them to one file per cell with probe results BIT-IDENTICAL and
    the centroid frame preserved through the swap."""
    from ct_mapreduce_spark.fsutil import count_parquet_files

    idx = str(tmp_path / "ivf_cmp")
    thirds = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    similarity.ivf_build_index(thirds[0], idx)
    for part in thirds[1:]:
        similarity.ivf_index_append(part, idx)
    queries = emb.where(F.col("vec_id") < 8)
    before_rows = sorted(
        tuple(r)
        for r in similarity.ivf_topk_indexed(spark, idx, queries, k=5).collect()
    )
    cents_before = sorted(
        tuple(r) for r in spark.read.parquet(idx + "/_centroids").collect()
    )
    n_before, n_after = similarity.ivf_index_compact(spark, idx)
    # two appends over 16 cells: the store holds multiple files per cell
    # before the fold and exactly one per non-empty cell after
    assert n_after < n_before
    cells = {
        r["cell"]
        for r in spark.read.parquet(idx).select("cell").distinct().collect()
    }
    assert n_after == len(cells)
    after_rows = sorted(
        tuple(r)
        for r in similarity.ivf_topk_indexed(spark, idx, queries, k=5).collect()
    )
    assert after_rows == before_rows
    cents_after = sorted(
        tuple(r) for r in spark.read.parquet(idx + "/_centroids").collect()
    )
    assert cents_after == cents_before
    # a second compact is a no-op fold: file count stays at one per cell
    assert similarity.ivf_index_compact(spark, idx)[1] == len(cells)


def test_ivf_append_is_cell_clustered(spark, emb, tmp_path):
    """File-count discipline: one append adds at most one data file per
    TOUCHED cell (repartition on the partition column before the write),
    not tasks x cells slivers."""
    from ct_mapreduce_spark.fsutil import count_parquet_files

    idx = str(tmp_path / "ivf_clu")
    similarity.ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx)
    base = count_parquet_files(spark, idx)
    similarity.ivf_index_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    grown = count_parquet_files(spark, idx) - base
    cells = (
        spark.read.parquet(idx).select("cell").distinct().count()
    )
    assert grown <= cells


def test_label_centroids_default_no_collect(spark):
    """Scale guard (round-2 review, wrong #3): the default path must not
    collect a group's values into one array (a mega-label would OOM the
    executor) — its aggregation state is O(1) per (label, pos) — and on a
    skewed corpus (one label 50x the others) it must agree with the
    bit-exact fold to the staging grid (1e-9 quantization, round-6 output)."""
    rows = [
        Row(label="hot", vec_id=i, embedding=[0.1 * (i % 7) - 0.3, float(i % 3)])
        for i in range(500)
    ] + [
        Row(label="cold", vec_id=1000 + i, embedding=[0.25, -1.5]) for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    got = similarity.label_centroids(df)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan, plan
    default_vals = {(r.label, r.pos): r.centroid_val for r in got.collect()}
    exact_vals = {
        (r.label, r.pos): r.centroid_val
        for r in similarity.label_centroids(df, exact=True).collect()
    }
    assert default_vals.keys() == exact_vals.keys()
    for k, v in exact_vals.items():
        assert abs(default_vals[k] - v) <= 2e-6, (k, default_vals[k], v)


def test_lsh_near_dup_thin_join(spark, emb):
    """Scale guard (round-2 review, wrong #2): the banded self-join must
    move only (vid, band, bucket) — no projection in the plan may carry
    the embedding alongside a band bucket (vectors attach to surviving
    candidates only, after the join)."""
    nd = similarity.lsh_near_dup_pairs(emb)
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    offenders = [
        line
        for line in plan.splitlines()
        if "Project" in line and "vec#" in line and "bucket" in line
    ]
    assert not offenders, offenders


def test_lsh_near_dup_recall(spark, emb):
    """Bucketed near-dup pairs must recover >=90% of the exact-threshold
    pairs (narrow 2-bit bands bias to recall), and every emitted pair is
    exact-verified (cosine computed on candidates => no false positives)."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", similarity.cosine(F.col("ea"), F.col("eb")))
        .where(F.col("cosine") >= 0.25)
        .collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_near_dup_pairs(emb).collect()
    }
    assert got <= exact  # no false positives
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall} over {len(exact)} pairs"


def test_cosine_topk_self_excluded_and_sane(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    out = similarity.cosine_topk(emb, queries, k=5).collect()
    assert len(out) == 15
    assert all(r.query_id != r.neighbor_id for r in out)
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)


def test_lang_id_deterministic_golden(spark):
    rows = [
        Row(doc_id=1, text="the cat and the dog of a house is that"),
        Row(doc_id=2, text="der hund ist nicht ein katze und zu"),
        Row(doc_id=3, text="qqq www eee"),
    ]
    out = {r.doc_id: r.pred_lang for r in text.lang_id(spark.createDataFrame(rows)).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_dedup_clusters_chain_and_islands(spark):
    """Multi-hop components converge (chain 1-2-3-4 needs label hops),
    isolated docs keep their own id, representative = component min."""
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(1, 8)])
    pairs = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2),
            Row(doc_a=2, doc_b=3),
            Row(doc_a=3, doc_b=4),  # chain: {1,2,3,4}
            Row(doc_a=6, doc_b=7),  # pair: {6,7}
        ]
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_fuzzy.dedup_clusters(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}


def test_mixture_rebalance_uniform_and_stable(spark):
    from ct_mapreduce_spark.operators.sampling import mixture_rebalance

    rows = [(i, "a" if i % 10 < 6 else ("b" if i % 10 < 9 else "c")) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_rebalance(df, "lang", "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # binding stratum (c, 300 rows) keeps everything; others land near 300
    assert counts["c"] == 300
    for l in ("a", "b"):
        assert abs(counts[l] - 300) <= 60, counts
    # deterministic under repartitioning
    again = mixture_rebalance(df.repartition(13), "lang", "doc_id")
    assert sorted(tuple(r) for r in again.collect()) == sorted(
        tuple(r) for r in out.collect()
    )
    # explicit target shares: 75/25 between a and b only
    t = mixture_rebalance(df.where(F.col("lang") != "c"), "lang", "doc_id",
                          target_shares={"a": 0.75, "b": 0.25})
    tc = {r["lang"]: r["n"] for r in t.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # a binds (1800/0.75 = 2400 < 900/0.25 = 3600): keeps all 1800;
    # b thins to 25% of 2400 = ~600
    assert tc["a"] == 1800
    assert abs(tc["b"] - 600) <= 40
    # strata absent from an explicit map are DROPPED (share 0.0), and
    # covered strata behave exactly as if the stranger were pre-filtered
    u = mixture_rebalance(
        df, "lang", "doc_id", target_shares={"a": 0.75, "b": 0.25}
    )
    uc = {r["lang"]: r["n"] for r in u.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "c" not in uc
    assert uc == tc, (uc, tc)
    # degenerate: no observed stratum covered -> empty result, not
    # keep-everything via a 0*Inf=NaN keep-prob
    z = mixture_rebalance(df, "lang", "doc_id", target_shares={"zz": 1.0})
    assert z.count() == 0


def test_hash_split_stable_under_repartition_and_growth(spark):
    """The property seed-based sample() lacks: split membership is a pure
    function of the key — identical after repartitioning, and adding new
    rows never moves an existing row between splits."""
    from ct_mapreduce_spark.operators.sampling import hash_split

    base = spark.range(1000).withColumnRenamed("id", "doc_id")
    splits = {"train": 80, "val": 10, "test": 10}
    a = {r.doc_id: r.split for r in hash_split(base, "doc_id", splits).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(base.repartition(17), "doc_id", splits).collect()
    }
    assert a == b
    grown = spark.range(2000).withColumnRenamed("id", "doc_id")
    c = {r.doc_id: r.split for r in hash_split(grown, "doc_id", splits).collect()}
    assert all(c[k] == v for k, v in a.items())
    # ratios near the configured weights
    from collections import Counter

    counts = Counter(c.values())
    assert 0.7 < counts["train"] / 2000 < 0.9
    assert counts["train"] + counts["val"] + counts["test"] == 2000


def test_hll_mergeability_and_tolerance(spark):
    """Union-of-leaf-sketches must equal the direct sketch (register math
    is associative/commutative), and the estimate must track exact
    distinct within HLL error bounds at above-sparse cardinality."""
    from ct_mapreduce_spark.operators.sketches import (
        hll_group_sketches,
        hll_rollup,
    )

    df = spark.range(200_000).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") % 10).alias("sub"),
        (F.col("id") % 50_000).alias("v"),
    )
    leaf = hll_group_sketches(df, ["g", "sub"], "v")
    rolled = {r.g: r.est_distinct for r in hll_rollup(leaf, ["g"]).collect()}
    direct = {
        r.g: r.est_distinct
        for r in hll_group_sketches(df, ["g"], "v").collect()
    }
    assert rolled == direct  # mergeability: same registers either way
    exact = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.count_distinct("v").alias("n")).collect()
    }
    for g, est in rolled.items():
        rel = abs(est - exact[g]) / exact[g]
        assert rel < 0.05, (g, est, exact[g])


def test_multimodal_feature_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=120)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 120
    bad = {r.media_id for r in rows if not r.decode_ok}
    # empty payloads (every 37th) and the corrupt payloads of all three
    # kinds (image i%51, audio i%55, video i%56 — each rejected by its
    # real parser) all isolate per-row
    assert bad == {
        i
        for i in range(120)
        if i % 37 == 0
        or i % 51 == 0
        or (i % 3 == 1 and i % 55 == 0)
        or (i % 3 == 2 and i % 56 == 0)
    }
    ok = [r for r in rows if r.decode_ok]
    assert all(r.feat_dim == 16 for r in ok)
    # determinism: same payload -> same features
    again = {r.media_id: r.features for r in multimodal.extract_features(media).collect() if r.decode_ok}
    for r in ok:
        assert again[r.media_id] == r.features


def test_multimodal_decoder_swap_in(spark):
    """The codec seam is a real contract, not a comment: injecting a
    different decoder changes the features while the Spark plumbing
    (schemas, failure isolation, batch iteration) is untouched. The
    decoder is a nested function — cloudpickle ships it by value, the
    same way a production Pillow wrapper would travel."""

    def _alt_decoder(payload, kind):
        if not payload:
            raise ValueError("empty")
        return [float(len(payload) % 7)] * 4

    media = multimodal.synthetic_media(spark, n=30)
    rows = multimodal.extract_features(media, decoder=_alt_decoder).collect()
    ok = [r for r in rows if r.decode_ok]
    assert ok and all(r.feat_dim == 4 for r in ok)
    for r in ok:
        assert len(set(r.features)) == 1  # the injected decoder's shape
    bad = [r for r in rows if not r.decode_ok]
    assert len(bad) == len([i for i in range(30) if i % 37 == 0])
    # default path resolves to the real BMP decoder in this container
    # (Pillow absent); the Pillow branch is the same seam, tried first
    assert multimodal.resolve_decoder() is multimodal.bmp_decoder


def test_multimodal_frame_fanout(spark):
    """AVI videos emit their REAL frames (one uncompressed DIB chunk per
    frame, capped at 8); empty payloads emit none; the corrupt video
    falls back to byte-slice sampling."""
    media = multimodal.synthetic_media(spark, n=60)
    frames = multimodal.sample_frames(media).collect()
    per_media: dict[int, list] = {}
    for r in frames:
        per_media.setdefault(r.media_id, []).append(r)
    vids = {r["media_id"]: r for r in media.where("kind='video'").collect()}
    for mid, v in vids.items():
        if v.n_bytes == 0:  # empty rows emit nothing
            assert mid not in per_media
            continue
        if mid % 56 == 0:  # the corrupt video: byte-slice fallback
            expect = min(8, v.n_bytes // 1024)
            got = per_media.get(mid, [])
            assert len(got) == expect
            assert all(r.frame_bytes == 1024 for r in got)
            continue
        got = per_media[mid]
        assert [r.frame_idx for r in sorted(got, key=lambda r: r.frame_idx)] == list(
            range(len(got))
        )
        w, h, stride, avi_frames = multimodal._parse_avi_header(bytes(v.payload))
        assert len(got) == min(8, len(avi_frames))
        assert all(r.frame_bytes == stride * h for r in got)
        # the emitted chunk IS the DIB: byte-identical to the container's
        first = min(got, key=lambda r: r.frame_idx)
        off, ln = avi_frames[0]
        assert bytes(first.frame_payload) == bytes(v.payload)[off : off + ln]


def test_repartition_by_bytes(spark):
    media = multimodal.synthetic_media(spark, n=120)
    out = multimodal.repartition_by_bytes(media, target_bytes=64 << 10)
    assert out.rdd.getNumPartitions() >= 2
    assert out.count() == 120


def test_multimodal_resize(spark):
    media = multimodal.synthetic_media(spark, n=90)
    out = multimodal.resize_images(media, target_bytes=256).collect()
    imgs = media.where("kind='image'").count()
    assert len(out) == imgs
    ok = [r for r in out if r.resize_ok]
    assert all(r.resized_bytes <= 256 for r in ok)
    assert all(r.resized_bytes <= r.orig_bytes for r in ok)
    bad = [r for r in out if not r.resize_ok]
    assert all(r.orig_bytes == 0 for r in bad)
    # determinism
    again = {r.media_id: bytes(r.resized_payload) for r in
             multimodal.resize_images(media, target_bytes=256).collect() if r.resize_ok}
    for r in ok:
        assert again[r.media_id] == bytes(r.resized_payload)


def test_bmp_roundtrip():
    """encode_bmp -> decode_bmp is the identity, including odd widths
    whose rows need 4-byte padding."""
    import numpy as np

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (3, 2), (5, 3), (8, 8), (7, 13)]:
        rgb = rng.integers(0, 256, size=3 * w * h, dtype=np.uint8).tobytes()
        assert multimodal.decode_bmp(multimodal.encode_bmp(w, h, rgb)) == (w, h, rgb)


def test_bmp_top_down_variant():
    """Negative biHeight means top-down pixel storage; the decoder must
    return the same top-down RGB either way."""
    import struct

    rgb = bytes(range(12))  # 2x2 RGB
    bottom_up = multimodal.encode_bmp(2, 2, rgb)
    # rebuild as top-down: flip height sign, swap the two stored rows
    stride = 8  # 2 px * 3 B + 2 pad
    px = bottom_up[54:]
    top_down = (
        bottom_up[:22]
        + struct.pack("<i", -2)
        + bottom_up[26:54]
        + px[stride:]
        + px[:stride]
    )
    assert multimodal.decode_bmp(top_down) == (2, 2, rgb)


def test_bmp_decoder_golden_features():
    """Hand-computed grayscale/downsample golden for a known 2x2 image —
    proves the decoder does real pixel math, not hashing."""
    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    payload = multimodal.encode_bmp(2, 2, rgb)
    feats = multimodal.bmp_decoder(payload, "image")
    gray = {"r": 76, "g": 149, "b": 29, "w": 255}  # (299r+587g+114b)//1000
    expect = [
        gray[k] / 255.0
        for k in ["r", "r", "g", "g", "r", "r", "g", "g",
                  "b", "b", "w", "w", "b", "b", "w", "w"]
    ]
    assert feats == expect


def test_bmp_decoder_rejects_garbage():
    for junk in [b"", b"JUNK" + b"\x00" * 100, b"BM" + b"\x01" * 20,
                 multimodal.encode_bmp(2, 2, bytes(12))[:40]]:
        try:
            multimodal.bmp_decoder(junk, "image")
            assert False, "should have raised"
        except ValueError:
            pass


def test_wav_roundtrip_and_features():
    """encode_wav -> decode_wav round-trips samples exactly, and the
    features do real signal math: a pure 1 kHz tone at 8 kHz lands in
    rfft bin 500 of 2000 -> DC-excluded tail index 499 -> band
    499 // ceil(2000/12) = 2 of the 12 equal slices, with hand-computable
    duration/rms/zcr values."""
    import numpy as np

    sr, n = 8000, 4000  # 0.5 s
    t = np.arange(n)
    tone = (16384 * np.sin(2 * np.pi * 1000.0 * t / sr)).astype(np.int16)
    payload = multimodal.encode_wav(sr, 1, tone.tobytes())
    sr2, ch, samples = multimodal.decode_wav(payload)
    assert (sr2, ch) == (sr, 1)
    assert np.array_equal(samples[:, 0], tone)

    feats = multimodal.wav_decoder(payload)
    assert len(feats) == 16
    assert feats[0] == (n / sr) / 10.0  # 0.05 of the 10 s cap
    assert abs(feats[1] - 16384 / 32768 / np.sqrt(2)) < 0.01  # sine rms
    assert abs(feats[2] - 2 * 1000 / sr) < 0.01  # 2 crossings per cycle
    bands = feats[4:]
    assert bands.index(max(bands)) == 2
    assert max(bands) > 0.95


def test_wav_stereo_mixdown():
    import numpy as np

    # L = +1000, R = -1000 -> mono mix 0 everywhere -> rms 0
    pcm = np.tile(np.array([1000, -1000], dtype=np.int16), 100)
    payload = multimodal.encode_wav(16000, 2, pcm.tobytes())
    feats = multimodal.wav_decoder(payload)
    assert feats[1] == 0.0 and feats[3] == 0.0
    assert feats[4:] == [0.0] * 12  # zero signal -> zero band energy


def test_wav_decoder_rejects_garbage():
    import numpy as np

    good = multimodal.encode_wav(
        8000, 1, np.zeros(64, dtype=np.int16).tobytes()
    )
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # IEEE-float fmt code: unsupported
    odd_data = bytearray(good)
    odd_data[40:44] = (127).to_bytes(4, "little")  # 127 % 2 != 0
    for junk in [
        b"",
        b"JUNK" + good[4:],          # bad magic
        good[:40],                    # truncated before data
        bytes(bad_fmt),
        bytes(odd_data),
        multimodal.encode_wav(8000, 1, b""),  # zero frames
    ]:
        try:
            multimodal.wav_decoder(junk)
            assert False, f"should have raised: {junk[:12]!r}"
        except ValueError:
            pass


def test_avi_decoder_golden_features():
    """Hand-computed golden for a 2-frame 2x2 video: frame sampling picks
    frames (fi*2+1)//4 -> [0,0,1,1] and the 2x2 pixel grid covers all
    four pixels — real pixel math through the AVI container."""
    red = bytes([255, 0, 0] * 4)       # frame 0: all red
    blue = bytes([0, 0, 255] * 4)      # frame 1: all blue
    payload = multimodal.encode_avi(2, 2, [red, blue])
    feats = multimodal.avi_decoder(payload)
    gray = {"r": 76 / 255.0, "b": 29 / 255.0}
    assert feats == [gray["r"]] * 8 + [gray["b"]] * 8


def test_avi_roundtrip_frames():
    import numpy as np

    rng = np.random.default_rng(5)
    frames = [
        rng.integers(0, 256, size=3 * 5 * 3, dtype=np.uint8).tobytes()
        for _ in range(4)
    ]
    payload = multimodal.encode_avi(5, 3, frames)
    w, h, stride, offs = multimodal._parse_avi_header(payload)
    assert (w, h) == (5, 3) and len(offs) == 4
    # decode frame 2 back to top-down RGB and compare to the original
    off, ln = offs[2]
    dib = payload[off : off + ln]
    rows = [dib[y * stride : y * stride + 3 * w] for y in range(h)][::-1]
    rgb = b"".join(
        bytes((px[2], px[1], px[0]))
        for row in rows
        for px in (row[3 * x : 3 * x + 3] for x in range(w))
    )
    assert rgb == frames[2]


def test_avi_decoder_rejects_garbage():
    good = multimodal.encode_avi(2, 2, [bytes(12)])
    no_frames = good[: good.index(b"00db")]  # truncate before any frame
    for junk in [b"", b"JUNK" + good[4:], b"RIFF" + b"\x00" * 40, no_frames]:
        try:
            multimodal.avi_decoder(junk)
            assert False, f"should have raised: {junk[:12]!r}"
        except ValueError:
            pass


def test_ivf_indexed_matches_inline_and_prunes(spark, emb, tmp_path):
    """The materialized index path (build once, probe with partition
    pruning) returns BIT-IDENTICAL results to inline ivf_topk, and the
    probe scan carries the cell partition filter — reads track the probed
    fraction of the corpus, not its size (the 100 TB serving shape)."""
    idx = str(tmp_path / "ivf_idx")
    similarity.ivf_build_index(emb, idx)
    queries = emb.where(F.col("vec_id") < 8)

    inline = sorted(tuple(r) for r in similarity.ivf_topk(emb, queries, k=5).collect())
    served = similarity.ivf_topk_indexed(spark, idx, queries, k=5)
    assert sorted(tuple(r) for r in served.collect()) == inline

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:120]
    # Spark renders small literal sets as `IN (..)`, large ones as `INSET ..`
    assert "cell" in pf and ("INSET" in pf or "IN (" in pf), pf

    # pruning is real: probing ONE query reads exactly its n_probe cells
    import re

    one = similarity.ivf_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") == 3), k=5
    )
    pf1 = (
        one._jdf.queryExecution().executedPlan().toString()
        .split("PartitionFilters", 1)[1]
    )
    m = re.search(r"cell#\d+ IN \(([^)]*)\)", pf1) or re.search(
        r"cell#\d+ INSET ([\d, ]+)", pf1
    )
    assert m, pf1[:160]
    assert len(m.group(1).split(",")) == 4, m.group(1)  # n_probe cells, not 16
    # the index layout: one directory per cell + hidden centroids table
    import os

    cells = {d for d in os.listdir(idx) if d.startswith("cell=")}
    assert len(cells) == 16 and "_centroids" in os.listdir(idx)


def test_quantize_roundtrip_error_bound(spark, emb):
    """int8 symmetric quantization: codes within [-127, 127], zero-scale
    vectors all-zero, and reconstruction error <= scale/254 + eps per
    vector (half a quantization step)."""
    q = similarity.quantize_embeddings(emb)
    deq = similarity.dequantize_embeddings(q)
    joined = (
        q.join(emb, "vec_id")
        .join(deq.withColumnRenamed("embedding", "recon"), "vec_id")
        .collect()
    )
    assert len(joined) == 500
    for r in joined:
        assert all(-127 <= v <= 127 for v in r.qvec)
        if r.scale == 0:
            assert all(v == 0 for v in r.qvec)
            continue
        bound = r.scale / 254.0 + 1e-12
        for orig, rec in zip(r.embedding, r.recon):
            assert abs(rec - float(orig)) <= bound, (r.vec_id, orig, rec)


def test_exact_dedup_by_priority_keeps_best_then_lowest_id(spark):
    rows = [
        Row(doc_id=1, text="same", score=2.0),
        Row(doc_id=2, text="same", score=5.0),   # best -> canonical
        Row(doc_id=3, text="same", score=5.0),   # tie: higher id loses
        Row(doc_id=9, text="other", score=1.0),
    ]
    out = {
        r.content_hash: r
        for r in dedup_fuzzy.exact_dedup_by_priority(
            spark.createDataFrame(rows), priority="score"
        ).collect()
    }
    assert len(out) == 2
    by_copies = {r.n_copies: r for r in out.values()}
    assert by_copies[3].canonical_doc_id == 2   # score 5.0, lowest id wins tie
    assert by_copies[3].canonical_priority == 5.0
    assert by_copies[1].canonical_doc_id == 9


def test_ivf_refined_centroids_recall(spark):
    """Lloyd refinement must not hurt — and on planted clusters with a
    tight probe budget (n_probe=2) it should meet the 0.9 bar, where the
    raw hash-sampled seed can land multiple centroids in one cluster and
    leave another unrepresented."""
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }

    def recall(refine_iters, sample_mod=1):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(
                corpus,
                queries,
                k=5,
                n_probe=2,
                refine_iters=refine_iters,
                refine_sample_mod=sample_mod,
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0 - 0.02, (r0, r2)  # refinement must not regress
    assert r2 >= 0.9, f"refined IVF recall@5 (n_probe=2) = {r2} (seed {r0})"

    # sampled refinement (the 100 TB shape: means estimated from a
    # deterministic 1/4 hash-slice) must track full-corpus refinement
    r2s = recall(2, sample_mod=4)
    assert r2s >= r2 - 0.05, (r2, r2s)
    assert r2s >= 0.9, f"sampled-refined IVF recall@5 = {r2s} (full {r2})"


def test_quantized_topk_recall_vs_fp32(spark, emb):
    """int8 quantization must barely perturb search: exact top-5 over the
    dequantized corpus recovers >= 90% of the fp32 exact top-5."""
    queries_pred = F.col("vec_id") < 20
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, emb.where(queries_pred), k=5).collect()
    }
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(deq, deq.where(queries_pred), k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"quantized top-k recall = {recall}"


def test_weighted_sample_determinism_and_monotonicity(spark, docs):
    """weighted_sample membership is a pure function of (key, weight):
    weight 1 keeps everything, weight 0 nothing, and raising the weight
    only ever ADDS rows (the uniform draw is fixed per key)."""
    from ct_mapreduce_spark.operators.sampling import weighted_sample

    n = docs.count()
    assert weighted_sample(docs, "doc_id", F.lit(1.0)).count() == n
    assert weighted_sample(docs, "doc_id", F.lit(0.0)).count() == 0
    lo = {r.doc_id for r in weighted_sample(docs, "doc_id", F.lit(0.3)).collect()}
    hi = {r.doc_id for r in weighted_sample(docs, "doc_id", F.lit(0.6)).collect()}
    assert lo <= hi, "raising weight must only add rows"
    # ~uniform draw: 30% target within a loose binomial tolerance
    assert 0.15 <= len(lo) / n <= 0.45


def test_contamination_hits_flags_only_leaked_docs(spark):
    """A corpus doc sharing a 4-gram passage with the benchmark is
    flagged with the right hit count; disjoint docs are not."""
    mk = lambda i, t: Row(doc_id=i, text=t)
    bench = spark.createDataFrame(
        [mk(1, "the quick brown fox jumps over the lazy dog")]
    )
    corpus = spark.createDataFrame(
        [
            mk(10, "intro text then the quick brown fox appears here"),
            mk(11, "completely unrelated words about certificate logs"),
            mk(12, "quick brown fox jumps elsewhere quick brown fox jumps"),
        ]
    )
    hits = {
        r.doc_id: r.n_hits
        for r in dedup_fuzzy.contamination_hits(corpus, bench, k=4).collect()
    }
    # doc 10 shares "the quick brown fox"; doc 12 shares "quick brown fox
    # jumps" (distinct-shingle semantics: counted once despite repetition)
    assert hits == {10: 1, 12: 1}, hits


def test_eval_containment_fractions_and_verdict(spark):
    """Fully-leaked bench doc -> containment 1.0 / dirty; partially
    leaked -> exact fraction; disjoint -> 0.0; shorter-than-k -> the
    (0, 0, 0.0, false) degenerate row, present in the output."""
    mk = lambda i, t: Row(doc_id=i, text=t)
    bench = spark.createDataFrame(
        [
            mk(1, "the quick brown fox jumps"),   # 2 grams, both leaked
            mk(2, "alpha beta gamma delta epsilon zeta"),  # 3 grams, 1 leaked
            mk(3, "totally novel eval question here"),     # 2 grams, 0 leaked
            mk(4, "too short"),                            # < k tokens
        ]
    )
    corpus = spark.createDataFrame(
        [
            mk(10, "prefix the quick brown fox jumps suffix"),
            mk(11, "noise alpha beta gamma delta noise"),
        ]
    )
    got = {
        r.doc_id: r
        for r in dedup_fuzzy.eval_containment(corpus, bench, k=4).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert (got[1].n_grams, got[1].n_hit, got[1].dirty) == (2, 2, True)
    assert got[1].containment == 1.0
    assert (got[2].n_grams, got[2].n_hit, got[2].dirty) == (3, 1, False)
    assert got[2].containment == round(1 / 3, 6)
    assert (got[3].n_hit, got[3].containment, got[3].dirty) == (0, 0.0, False)
    assert (got[4].n_grams, got[4].n_hit, got[4].containment) == (0, 0, 0.0)


def test_eval_containment_corpus_side_never_shuffles_for_dict(spark):
    """The 100 TB contract: the benchmark dictionary reaches the corpus
    scan as a broadcast left-semi join — no sort-merge/shuffled join of
    the corpus gram stream against the dictionary."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    plan = (
        dedup_fuzzy.eval_containment(corpus, bench, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dup_span_stats_fractions(spark):
    """Two docs sharing one 4-gram passage + one unique doc: the shared
    occurrences count as duplicated spans, the unique doc scores 0."""
    mk = lambda i, t: Row(doc_id=i, text=t)
    d = spark.createDataFrame(
        [
            mk(1, "alpha beta gamma delta one two"),   # grams: 3, 1 dup
            mk(2, "x alpha beta gamma delta y"),       # grams: 3, 1 dup
            mk(3, "p q r s t u"),                      # grams: 3, 0 dup
        ]
    )
    out = {r.doc_id: r for r in dedup_fuzzy.dup_span_stats(d, k=4).collect()}
    assert out[1].n_spans == 3 and out[1].n_dup_spans == 1
    assert out[2].n_spans == 3 and out[2].n_dup_spans == 1
    assert out[3].n_spans == 3 and out[3].n_dup_spans == 0
    assert abs(out[1].dup_frac - round(1 / 3, 6)) < 1e-9
    assert out[3].dup_frac == 0.0


def test_remove_dup_spans_strips_shared_passage(spark):
    """The shared 4-gram passage disappears from every document carrying
    it (every token any flagged occurrence covers), unique text
    survives in order, a fully-boilerplate doc comes back empty, and a
    doc shorter than k is untouched (modulo whitespace normalization)."""
    mk = lambda i, t: Row(doc_id=i, text=t)
    d = spark.createDataFrame(
        [
            mk(1, "alpha beta gamma delta one two"),
            mk(2, "x alpha beta gamma delta y"),
            mk(3, "p q r s t u"),
            mk(4, "alpha beta gamma delta"),  # nothing but the passage
            mk(5, "short  doc"),              # < k tokens, double space
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup_fuzzy.remove_dup_spans(d, k=4, min_docs=2).collect()
    }
    assert out[1].clean_text == "one two" and out[1].n_removed == 4
    assert out[2].clean_text == "x y" and out[2].n_removed == 4
    assert out[3].clean_text == "p q r s t u" and out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 4
    assert out[5].clean_text == "short doc" and out[5].n_removed == 0
    assert out[1].n_tokens == 6 and out[5].n_tokens == 2
    assert set(out) == {1, 2, 3, 4, 5}


def test_remove_dup_spans_overlapping_flagged_grams(spark):
    """Overlapping flagged occurrences cover the UNION of their spans —
    a 5-token shared passage flags two overlapping 4-grams and all five
    tokens go, not just the first gram's four."""
    mk = lambda i, t: Row(doc_id=i, text=t)
    d = spark.createDataFrame(
        [
            mk(1, "a b c d e tail one"),
            mk(2, "head a b c d e"),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup_fuzzy.remove_dup_spans(d, k=4, min_docs=2).collect()
    }
    assert out[1].clean_text == "tail one" and out[1].n_removed == 5
    assert out[2].clean_text == "head" and out[2].n_removed == 5


def test_dup_span_stats_agg_join_matches_window_form(spark):
    """Tier equality for the r7 de-skew: the groupBy("gram")-joined-back
    nd computation is bit-identical to the window form it replaced, on a
    boilerplate-heavy corpus (one 4-gram in >50% of docs — the skewed-key
    case the rework exists for); and the executed plan carries no window
    over the gram key but does reuse the (gram, doc_id) exchange for
    both join inputs."""
    from pyspark.sql import Window

    boiler = "all rights reserved copyright notice "
    rows = [
        Row(
            doc_id=i,
            text=(boiler if i % 3 != 0 else "")
            + f"unique body {i} alpha beta gamma delta {i} epsilon",
        )
        for i in range(60)
    ]
    d = spark.createDataFrame(rows)
    got = dedup_fuzzy.dup_span_stats(d, k=4)

    # window-form replay (the pre-r7 implementation, verbatim semantics)
    from ct_mapreduce_spark.operators.text import gram_stream

    g = d.select("doc_id", F.explode(gram_stream("text", 4)).alias("gram"))
    pairs = g.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    want = (
        pairs.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_spans"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("occ")).otherwise(0)
            ).alias("n_dup_spans"),
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
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in want.collect())
    assert a == b
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "no window partition on the skewed gram key"
    # the explode ran once, inside the checkpointed pairs job — the
    # result plan only reads the materialized compact frame
    assert "Generate explode" not in plan, "gram explode must run once"


def test_fan_out_uses_scan_estimate_without_rdd(spark):
    """load_table annotates a filesystem-derived scan-partition estimate;
    fan_out must use it (no df.rdd probe) and still spread a small scan
    across defaultParallelism partitions."""
    from ct_mapreduce_spark.operators.util import (
        SCAN_PARTS_ATTR,
        estimate_scan_partitions,
        fan_out,
    )
    from ct_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF)
    est = getattr(d, SCAN_PARTS_ATTR, None)
    assert isinstance(est, int) and est >= 1
    # tiny file => estimate says under-parallelized => fan_out repartitions
    spread = fan_out(d)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # estimator sanity: one tiny file = 1 partition; a 100 GiB scan is
    # never "under-parallelized", so fan_out must leave it alone
    assert estimate_scan_partitions(spark, 1 << 20, 1) == 1
    big = estimate_scan_partitions(spark, 100 << 30, 800)
    assert big > spark.sparkContext.defaultParallelism


def test_run_parallel_keeps_callers_job_group(spark, action_jobs):
    """Jobs that run_parallel submits from its worker threads belong to
    the caller's job group, so a per-group job count (and a group cancel)
    covers them."""
    from ct_mapreduce_spark.operators.util import run_parallel

    rdd = spark.sparkContext.parallelize(range(8), 2)
    _, jobs = action_jobs("run-parallel", lambda: run_parallel(rdd.count, rdd.sum))
    assert len(jobs) == 2


def test_local_frame_preserves_nan(spark):
    """A float NaN cell must survive local_frame as NaN, not NULL: the
    Arrow ingest (from_pandas) nulls top-level NaN, so NaN-bearing rows
    must detect and fall back to the classic pickle path (r14 ADVICE).
    Finite rows keep the Arrow/LocalTableScan path."""
    import math

    from ct_mapreduce_spark.operators.util import local_frame

    rows = [(1, float("nan"), [0.5, float("nan")]), (2, 1.5, [1.0, 2.0])]
    got = {
        r["i"]: r
        for r in local_frame(
            spark, rows, "i long, x double, v array<double>"
        ).collect()
    }
    assert math.isnan(got[1]["x"]), "top-level NaN became NULL"
    assert math.isnan(got[1]["v"][1]), "nested NaN became NULL"
    assert got[2]["x"] == 1.5 and got[2]["v"] == [1.0, 2.0]
    # finite-valued frames stay on the Arrow path (LocalTableScan)
    fin = local_frame(spark, [(1, 2.0)], "i long, x double")
    assert "LocalTableScan" in fin._jdf.queryExecution().executedPlan().toString()


def test_append_writes_use_v1_committer(spark, tmp_path):
    """Append-mode store writes run under commit algorithm v1 (staged
    _temporary output) even though the session default is v2 — a failed
    v2 append leaves committed task files the previous write's _SUCCESS
    legitimizes (r14 ADVICE). Probe: the option plumbing must reach the
    Hadoop conf of the write job (an invalid version raises)."""
    from ct_mapreduce_spark.operators.util import append_v1

    df = spark.range(5)
    p = str(tmp_path / "s")
    append_v1(df.write.mode("append")).parquet(p)
    assert spark.read.parquet(p).count() == 5
    with pytest.raises(Exception, match="1 or 2 algorithm version"):
        df.write.mode("append").option(
            "mapreduce.fileoutputcommitter.algorithm.version", "999"
        ).parquet(p)


def test_bloom_filter_no_false_negatives_and_low_fp(spark):
    """Every known key passes the bloom; unknown-key false positives stay
    near the designed rate (m=2^17 bits, k=5, 1000 keys -> fpp << 1%)."""
    from ct_mapreduce_spark.operators import bloom

    keys = spark.range(1000).select(F.col("id").alias("k"))
    words = bloom.bloom_literal(keys, "k", m_bits=1 << 17, k_hashes=5)
    probe = spark.range(101_000).select(F.col("id").alias("k"))
    passed = probe.where(
        bloom.might_contain(F.col("k"), words, 1 << 17, 5)
    ).count()
    fps = passed - 1000
    assert passed >= 1000, "bloom dropped a known key (false negative)"
    assert fps / 100_000 < 0.01, f"false-positive rate {fps / 100_000}"


def test_bloom_prefilter_semi_join_exact(spark):
    """The bloom-prefiltered semi-join returns exactly the plain
    semi-join's rows — the filter prunes physically, never logically."""
    from ct_mapreduce_spark.operators import bloom

    probe = spark.range(5000).select((F.col("id") * 3).alias("k"), F.col("id").alias("v"))
    keys = spark.range(2000).select((F.col("id") * 7).alias("k"))
    got = {
        (r.k, r.v)
        for r in bloom.bloom_prefilter_semi_join(probe, keys, "k").collect()
    }
    want = {(r.k, r.v) for r in probe.join(keys, "k", "left_semi").collect()}
    assert got == want and len(want) > 0


def test_pq_topk_recall_vs_exact(spark):
    """Two-tier PQ contract on the planted-cluster fixture: the pure ADC
    tier retrieves from the right CLUSTER (codes collapse within a tight
    cluster, so in-cluster order is id-tie-broken — cluster membership is
    what ADC can promise), and the reranked tier (shortlist + exact
    cosine) recovers the true exact top-5."""
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    adc = similarity.pq_topk(corpus, queries, k=5).collect()
    same_cluster = [r for r in adc if r.query_id // per == r.neighbor_id // per]
    assert len(same_cluster) / len(adc) >= 0.9, (
        f"ADC same-cluster fraction = {len(same_cluster) / len(adc)}"
    )
    reranked = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(
            corpus, queries, k=5, rerank_factor=8
        ).collect()
    }
    recall = len(exact & reranked) / len(exact)
    assert recall >= 0.9, f"PQ+rerank recall@5 = {recall}"


def test_semdedup_drops_planted_duplicates(spark):
    """Exact-duplicate vectors always share a cell (identical cosine to
    every centroid, deterministic tie-break), so semdedup must pair them
    and the keep-rule must drop the higher id."""
    corpus, per = _planted_cluster_corpus(spark)
    base = corpus.where(F.col("vec_id") < 3)
    dups = base.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    test = corpus.unionByName(dups)
    pairs = similarity.semdedup_pairs(test, threshold=0.999)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    for i in range(3):
        assert (i, i + 10_000) in got, (i, sorted(got)[:5])
    kept = {r.vec_id for r in similarity.semdedup_keep(test, threshold=0.999).collect()}
    assert {10_000, 10_001, 10_002}.isdisjoint(kept)
    assert {0, 1, 2} <= kept


def test_adaptive_quality_per_stratum_halves(spark):
    """Each language keeps ~half its docs at keep_frac=0.5, cuts differ
    per language, and every kept row clears its own stratum's cut — the
    whole point over a single global threshold."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = text.adaptive_quality_filter(docs, keep_frac=0.5, exact=True)
    rows = kept.collect()
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
        assert r.quality >= r.cut
    for lang, rs in by_lang.items():
        frac = len(rs) / totals[lang]
        # >= median keeps at least half; ties can push it above
        assert 0.5 <= frac <= 0.75, (lang, frac)
    assert len({round(rs[0].cut, 6) for rs in by_lang.values()}) > 1


def test_adaptive_quality_approx_tier_agrees(spark):
    """The sketch tier (the 100 TB path) keeps nearly the same set as
    the exact tier, and its plan has no window and broadcasts the
    strata-sized cuts."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        r.doc_id
        for r in text.adaptive_quality_filter(
            docs, keep_frac=0.5, exact=True
        ).collect()
    }
    approx_df = text.adaptive_quality_filter(docs, keep_frac=0.5)
    approx = {r.doc_id for r in approx_df.collect()}
    overlap = len(exact & approx) / max(len(exact), 1)
    assert overlap >= 0.95, overlap
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gopher_quality_planted_rules(spark):
    """Each Gopher rule trips on a purpose-built document and the clean
    document passes the full battery."""
    good_text = (
        "the quick brown fox jumps over the lazy dog and then runs back "
        "home to be with the pack that it came from so that every one of "
        "them could have dinner together with plenty of space and food "
        "for all members young and old alike in the den tonight again"
    )
    rows = [
        Row(doc_id=1, text=good_text),                      # passes all
        Row(doc_id=2, text="too short"),                    # words_ok fails
        Row(doc_id=3, text=" ".join(["a"] * 60)),           # mean_len < 3
        Row(doc_id=4, text=" ".join(["#tag"] * 30) + " " + good_text),
        Row(doc_id=5, text="\n".join(["- bullet line"] * 10)),
        Row(doc_id=6, text="\n".join(["trailing words ..."] * 10)),
        Row(doc_id=7, text=" ".join(["12345"] * 60)),       # alpha fails
        Row(doc_id=8, text=" ".join(["lorem"] * 60)),       # no stopwords
        Row(doc_id=9, text=""),                             # empty
    ]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in text.gopher_quality(df).collect()}
    assert got[1].gopher_pass, got[1]
    assert not got[2].words_ok and not got[2].gopher_pass
    assert not got[3].mean_len_ok
    assert not got[4].symbol_ok and got[4].symbol_ratio > 0.1
    assert not got[5].bullet_ok and got[5].bullet_frac == 1.0
    assert not got[6].ellipsis_ok and got[6].ellipsis_frac == 1.0
    assert not got[7].alpha_ok and got[7].alpha_frac == 0.0
    assert not got[8].stop_ok and got[8].n_req_stopwords == 0
    assert got[9].n_words == 0 and not got[9].gopher_pass
    # ratio sanity on the clean doc
    assert 3.0 <= got[1].mean_word_len <= 10.0
    assert got[1].n_req_stopwords >= 2


def test_gopher_quality_is_pure_codegen(spark, docs):
    """No Python evaluation anywhere in the plan (the 100 TB contract):
    the physical plan must not contain a BatchEvalPython / ArrowEvalPython
    node."""
    plan = text.gopher_quality(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_remove_dup_paragraphs_strips_shared_lines(spark):
    """Shared paragraphs (>= min_docs docs) vanish from every document;
    unique paragraphs and blank separator lines survive in order."""
    footer = "subscribe to our newsletter"
    rows = [
        Row(doc_id=1, text=f"alpha unique one\n\n{footer}"),
        Row(doc_id=2, text=f"beta unique two\n{footer}"),
        Row(doc_id=3, text=f"gamma unique three\n{footer}\ntail three"),
        Row(doc_id=4, text="delta stands alone"),
    ]
    got = {
        r.doc_id: r
        for r in dedup_fuzzy.remove_dup_paragraphs(
            spark.createDataFrame(rows), min_docs=3
        ).collect()
    }
    assert got[1].clean_text == "alpha unique one\n"  # blank line kept
    assert got[1].n_paras == 3 and got[1].n_removed == 1
    assert got[2].clean_text == "beta unique two"
    assert got[3].clean_text == "gamma unique three\ntail three"
    assert got[4].clean_text == "delta stands alone"
    assert got[4].n_removed == 0


def test_remove_dup_paragraphs_whitespace_only_never_flags(spark):
    """Blank paragraphs appear in every doc but are formatting, not
    content: they must survive even at min_docs=2."""
    rows = [
        Row(doc_id=i, text=f"unique body {i}\n\nunique tail {i}")
        for i in range(5)
    ]
    out = dedup_fuzzy.remove_dup_paragraphs(
        spark.createDataFrame(rows), min_docs=2
    ).collect()
    for r in out:
        assert r.n_removed == 0
        assert "\n\n" in r.clean_text


def test_cms_never_undercounts_and_merges(spark, docs):
    """The CMS contract: estimates >= exact for EVERY key (not just
    heavy hitters); cell-wise addition of two halves' sketches equals
    the sketch of the union (mergeability — the streaming/rollup
    property); and the model-sized sketch broadcasts in the probe
    plan."""
    from ct_mapreduce_spark.operators.sketches import cms_build, cms_estimate

    toks = docs.select(
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), "")).alias(
            "token"
        )
    ).localCheckpoint()
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    cms = cms_build(toks, "token")
    est = cms_estimate(cms, exact.select("token"), "token")
    joined = exact.join(est, "token").collect()
    assert len(joined) > 20  # the synthetic corpus's full vocabulary
    assert all(r.n_cms >= r.n_exact for r in joined)
    # error bound sanity: depth=4, width=256 -> gross overestimates rare
    total = toks.count()
    bad = [r for r in joined if r.n_cms - r.n_exact > total * 0.05]
    assert len(bad) / len(joined) < 0.05, len(bad)

    # mergeability: sketch(union) == cell-wise sum of the halves
    h1 = toks.where(F.crc32("token") % 2 == 0)
    h2 = toks.where(F.crc32("token") % 2 == 1)
    merged = (
        cms_build(h1, "token")
        .unionByName(cms_build(h2, "token"))
        .groupBy("row_i", "col")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    a = sorted(tuple(r) for r in cms.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b

    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan, plan


def test_pq_ivf_index_lifecycle(spark, emb, tmp_path):
    """IVF-PQ (Jégou et al. 2011 IVFADC): cell-pruned ADC serving.

    - probing ALL cells admits every candidate, so the serve must be
      bit-identical to exhaustive pq_topk (same stored model: seeded
      centroids + codebooks match the inline estimation; shared
      _pq_adc_rank expressions);
    - the probe's executed plan must partition-prune the codes scan
      (PartitionFilters carries the probed-cell IN-list);
    - append under the STORED model equals encoding the union;
      compaction folds files and leaves the probe bit-identical.
    """
    idx = str(tmp_path / "pqivf")
    queries = emb.where(F.col("vec_id") < 8)
    similarity.pq_ivf_build_index(emb, idx, n_cells=16)
    got_all = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx, queries, k=5, n_probe=16
        ).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.pq_topk(emb, queries, k=5).collect()
    )
    assert got_all == want and len(got_all) == 40
    # pruned probe: plan shows the cell IN-list in PartitionFilters
    pruned = similarity.pq_ivf_topk_indexed(spark, idx, queries, k=5, n_probe=4)
    pruned.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:2000]
    # rerank tier requires the vector corpus
    with pytest.raises(ValueError):
        similarity.pq_ivf_topk_indexed(spark, idx, queries, rerank_factor=2)
    # append path: half-built index + appended half == union encode+assign
    idx2 = str(tmp_path / "pqivf2")
    similarity.pq_ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx2)
    similarity.pq_ivf_index_append(emb.where(F.col("vec_id") % 2 == 1), idx2)
    books = similarity._pq_read_books(spark, idx2)
    cent_rows = spark.read.parquet(idx2 + "/_centroids").collect()
    appended = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(idx2 + "/codes").collect()
    }
    assigned = similarity._assign_nearest(
        emb, cent_rows, "vec_id", "embedding", "v"
    ).select(F.col("v_id").alias("vec_id"), F.col("v_vec").alias("embedding"), "cell")
    direct = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in similarity.pq_encode(
            assigned, books, keep=("cell",)
        ).collect()
    }
    assert appended == direct
    # compaction: per-cell fold, probe bit-identical
    from ct_mapreduce_spark.fsutil import count_parquet_files

    want2 = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx2, queries, k=5
        ).collect()
    )
    nb, na = similarity.pq_ivf_index_compact(spark, idx2)
    assert na < nb and na == count_parquet_files(spark, idx2 + "/codes")
    got2 = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx2, queries, k=5
        ).collect()
    )
    assert got2 == want2


def test_pq_ivf_recall_vs_exact(spark, tmp_path):
    """Cell-pruned PQ with exact re-rank on the planted-cluster fixture:
    n_probe=4 of 16 cells + shortlist re-rank must recover >=90% of the
    exact top-5 (co-cluster members share the query's cell — the IVF
    property — and the re-rank fixes ADC's in-cluster ties)."""
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)
    idx = str(tmp_path / "pqivf_clusters")
    similarity.pq_ivf_build_index(corpus, idx, n_cells=16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    served = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx, queries, k=5, n_probe=4,
            rerank_corpus=corpus, rerank_factor=8,
        ).collect()
    }
    recall = len(exact & served) / len(exact)
    assert recall >= 0.9, f"IVF-PQ+rerank recall@5 = {recall}"


def test_pq_ivf_residual_tier(spark, emb, tmp_path):
    """Residual IVFADC (Jégou et al. 2011 §III): codes quantize
    x − centroid(cell(x)), serving adds <q, centroid> back.

    - a residual index's _meta sidecar is honored end-to-end: append
      under the STORED model encodes residuals (equals the direct
      residual encode of the union); a raw index (no residual flag, and
      the pre-r8 no-_meta layout) serves exactly as before;
    - with exact re-rank both tiers recover >= 0.9 of exact top-5 on
      the planted-cluster fixture (the decomposition changes the ADC
      shortlist, not the re-ranked contract);
    - compaction leaves the residual serve bit-identical.
    """
    corpus, per = _planted_cluster_corpus(spark)
    queries = corpus.where(F.col("vec_id") % per < 2)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    idx = str(tmp_path / "pqivf_res")
    similarity.pq_ivf_build_index(corpus, idx, n_cells=16, residual=True)
    assert similarity._pq_ivf_is_residual(spark, idx) is True
    served = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx, queries, k=5, n_probe=4,
            rerank_corpus=corpus, rerank_factor=8,
        ).collect()
    }
    recall = len(exact & served) / len(exact)
    assert recall >= 0.9, f"residual IVF-PQ+rerank recall@5 = {recall}"

    # append under the stored residual model == union residual encode
    idx2 = str(tmp_path / "pqivf_res2")
    similarity.pq_ivf_build_index(
        corpus.where(F.col("vec_id") % 2 == 0), idx2, n_cells=16,
        residual=True,
    )
    similarity.pq_ivf_index_append(
        corpus.where(F.col("vec_id") % 2 == 1), idx2
    )
    books = similarity._pq_read_books(spark, idx2)
    cents = spark.read.parquet(idx2 + "/_centroids")
    cent_rows = cents.collect()
    assigned = similarity._assign_nearest(
        corpus, cent_rows, "vec_id", "embedding", "v"
    ).select(
        F.col("v_id").alias("vec_id"), F.col("v_vec").alias("embedding"), "cell"
    )
    resid = similarity._with_residual(assigned, cents, "embedding")
    direct = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in similarity.pq_encode(
            resid, books, "vec_id", "_resid", keep=("cell",)
        ).collect()
    }
    appended = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(idx2 + "/codes").collect()
    }
    assert appended == direct

    # raw index: flag False; a pre-r8 index without _meta reads as raw
    idx3 = str(tmp_path / "pqivf_raw")
    similarity.pq_ivf_build_index(corpus, idx3, n_cells=16)
    assert similarity._pq_ivf_is_residual(spark, idx3) is False
    import shutil

    shutil.rmtree(idx3 + "/_meta")
    assert similarity._pq_ivf_is_residual(spark, idx3) is False

    # compaction: residual serve bit-identical across the fold
    want = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx2, queries, k=5, n_probe=4
        ).collect()
    )
    similarity.pq_ivf_index_compact(spark, idx2)
    got = sorted(
        tuple(r)
        for r in similarity.pq_ivf_topk_indexed(
            spark, idx2, queries, k=5, n_probe=4
        ).collect()
    )
    assert got == want


def _broad_cell_corpus(spark, seed=11, dim=64, n_cells=4, subs=12, per=6,
                       cell_norm=2.0, spike=0.8, noise=0.05):
    """The published residual regime: few BROAD cells (strong shared
    centroid, norm 2) each containing sub-cluster structure (a ±0.8
    spike on one random coordinate per sub-cluster) — within a cell the
    centroid carries most of the energy but none of the ranking signal,
    so raw codebooks waste capacity re-encoding it while residual
    codebooks see only the spikes. The inverse of
    _planted_cluster_corpus (tight cells, residual ≈ isotropic noise)."""
    import math
    import random

    rng = random.Random(seed)
    rows, vid = [], 0
    for _c in range(n_cells):
        center = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [cell_norm * x / nrm for x in center]
        for _s in range(subs):
            j = rng.randrange(dim)
            sgn = rng.choice([-1.0, 1.0])
            sc = list(center)
            sc[j] += sgn * spike
            for _ in range(per):
                v = [x + rng.gauss(0.0, noise) for x in sc]
                rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
                vid += 1
    return spark.createDataFrame(rows), per


def test_pq_ivf_residual_regime_matrix(spark, tmp_path):
    """The two-fixture recall matrix behind the residual-tier guidance
    (operator docstring + `cli ann --residual` help): when does residual
    IVFADC beat raw-coded IVF-PQ, and what role does centroid
    refinement play? Measured recall@5 without re-rank (the tiers'
    ADC-only separation; the >= 0.9 with-rerank bar is pinned in
    test_pq_ivf_residual_tier / the broad bar below).

    Diagnosis this matrix encodes (r9, closing the r8 honest caveat):
    the r8 'residual scored WORSE' finding was the UNREFINED coarse
    quantizer — a hash-sampled member is not a mean, so residuals were
    off-center (variance ~2σ²). With Lloyd-refined centroids
    (refine_iters, the published k-means coarse quantizer) the residual
    tier wins on BOTH fixture shapes; unrefined it still loses on the
    tight fixture. Hence the shipped guidance: --residual pairs with
    --refine-iters >= 2."""
    tight, per_t = _planted_cluster_corpus(spark)
    tight = tight.localCheckpoint(eager=True)
    broad, per_b = _broad_cell_corpus(spark)
    broad = broad.localCheckpoint(eager=True)

    def recall(corpus, per, n_cells, n_probe, residual, refine, tag,
               rerank=False):
        queries = corpus.where(F.col("vec_id") % per < 2 if per > 6
                               else F.col("vec_id") % per < 1)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(corpus, queries, k=5).collect()
        }
        idx = str(tmp_path / tag)
        similarity.pq_ivf_build_index(
            corpus, idx, n_cells=n_cells, residual=residual,
            refine_iters=refine,
        )
        kwargs = (
            {"rerank_corpus": corpus, "rerank_factor": 16} if rerank else {}
        )
        served = {
            (r.query_id, r.neighbor_id)
            for r in similarity.pq_ivf_topk_indexed(
                spark, idx, queries, k=5, n_probe=n_probe, **kwargs
            ).collect()
        }
        return len(exact & served) / len(exact)

    # --- tight fixture (n_cells=16, n_probe=4) ---
    t_raw0 = recall(tight, per_t, 16, 4, False, 0, "t_raw0")
    t_res0 = recall(tight, per_t, 16, 4, True, 0, "t_res0")
    t_raw3 = recall(tight, per_t, 16, 4, False, 3, "t_raw3")
    t_res3 = recall(tight, per_t, 16, 4, True, 3, "t_res3")
    # unrefined: residual LOSES (the r8 finding, now explained)
    assert t_res0 < t_raw0, (t_res0, t_raw0)
    # refined: residual WINS (the published IVFADC posture)
    assert t_res3 >= t_raw3 + 0.03, (t_res3, t_raw3)

    # --- broad fixture (n_cells=4, n_probe=1) ---
    b_raw3 = recall(broad, per_b, 4, 1, False, 3, "b_raw3")
    b_res3 = recall(broad, per_b, 4, 1, True, 3, "b_res3")
    assert b_res3 >= b_raw3 + 0.05, (b_res3, b_raw3)
    assert b_res3 >= 0.35, b_res3

    # the with-rerank safety bar holds on the broad fixture for both
    # tiers (tight-fixture bars live in test_pq_ivf_residual_tier /
    # test_pq_ivf_rerank_recall)
    assert recall(broad, per_b, 4, 2, True, 3, "b_res3_rr", rerank=True) >= 0.9
    assert recall(broad, per_b, 4, 2, False, 3, "b_raw3_rr", rerank=True) >= 0.9


def test_cluster_balanced_sample(spark):
    """Semantic mixing on a skewed planted corpus: one cluster 10x the
    size of the others must be downsampled toward the uniform mixture
    (kept sizes within hash-granularity of each other), the binding
    (smallest) cluster keeps everything, every kept row keeps its true
    cell, and explicit shares drop a zero-share cluster entirely."""
    import math
    import random

    from pyspark.sql import Row

    rng = random.Random(11)
    rows, vid = [], 0
    sizes = [200, 20, 20, 20]
    for c, size in enumerate(sizes):
        center = [rng.gauss(0.0, 1.0) for _ in range(64)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for _ in range(size):
            v = [x + rng.gauss(0.0, 0.05) for x in center]
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows)
    kept = similarity.cluster_balanced_sample(corpus, n_cells=4).collect()
    by_cell: dict[int, int] = {}
    for r in kept:
        by_cell[r["cell"]] = by_cell.get(r["cell"], 0) + 1
    counts = sorted(by_cell.values())
    # 4 observed cells, uniform target: every kept stratum ~ the binding
    # stratum's size; md5-uniform granularity allows slack
    assert len(by_cell) == 4, by_cell
    assert counts[-1] <= 2 * counts[0], by_cell  # 10x skew flattened
    # determinism: a repartitioned input keeps the identical set
    kept2 = similarity.cluster_balanced_sample(
        corpus.repartition(7), n_cells=4
    ).collect()
    assert sorted((r["vec_id"], r["cell"]) for r in kept) == sorted(
        (r["vec_id"], r["cell"]) for r in kept2
    )
    # explicit shares: zero-share (omitted) cells drop entirely
    cells = sorted(by_cell)
    kept3 = similarity.cluster_balanced_sample(
        corpus, n_cells=4, target_shares={cells[0]: 1.0}
    ).collect()
    assert {r["cell"] for r in kept3} == {cells[0]}


# ---------------------------------------------------------------------------
# Two-level quantizer tier (r10): bounded driver model at any n_cells
# ---------------------------------------------------------------------------


def test_two_level_exhaustive_matches_one_level(spark):
    """With coarse_probe = n_coarse the two-level tier considers every
    fine centroid — assignments must match the one-level Arrow tier
    exactly on the planted fixture (no near-ties; per-group GEMM vs full
    GEMM can only differ on last-ulp ties)."""
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    cents = similarity._ivf_centroid_frame(
        corpus, 64, "vec_id", "embedding", 42
    )
    one = {
        r.n_id: r.cell
        for r in similarity._assign_nearest(
            corpus, cents.collect(), "vec_id", "embedding", "n",
            vectorize=True,
        ).collect()
    }
    two = {
        r.n_id: r.cell
        for r in similarity._two_level_assign(
            corpus, cents, 64, "vec_id", "embedding", "n",
            coarse_probe=10**9,  # clamped to n_coarse: exhaustive
        ).collect()
    }
    assert len(two) == len(one)
    agree = sum(1 for k, v in one.items() if two[k] == v) / len(one)
    assert agree == 1.0, f"exhaustive two-level agreement = {agree}"


def test_two_level_default_probe_agreement(spark):
    """Default coarse_probe=4: the recall-style bar for the scale tier —
    >= 90% of rows land in the same cell as one-level assignment (misses
    are rows whose true cell's coarse owner wasn't probed)."""
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    cents = similarity._ivf_centroid_frame(
        corpus, 64, "vec_id", "embedding", 42
    )
    one = {
        r.n_id: r.cell
        for r in similarity._assign_nearest(
            corpus, cents.collect(), "vec_id", "embedding", "n",
            vectorize=True,
        ).collect()
    }
    two = {
        r.n_id: r.cell
        for r in similarity._two_level_assign(
            corpus, cents, 64, "vec_id", "embedding", "n"
        ).collect()
    }
    assert len(two) == len(one)
    agree = sum(1 for k, v in one.items() if two[k] == v) / len(one)
    assert agree >= 0.9, f"two-level default-probe agreement = {agree}"


def test_two_level_driver_model_stays_sublinear(spark):
    """The dispatch contract (r9 verdict 'What's wrong #2'): above the
    budget the driver collects only the sqrt-sized coarse model, never
    the fine centroid frame."""
    import math

    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    n_cells = 200
    cents = similarity._ivf_centroid_frame(
        corpus, n_cells, "vec_id", "embedding", 42
    )
    similarity._two_level_assign(
        corpus, cents, n_cells, "vec_id", "embedding", "n"
    ).count()
    assert similarity._LAST_DRIVER_MODEL_ROWS == max(
        16, math.isqrt(n_cells)
    )
    assert similarity._LAST_DRIVER_MODEL_ROWS < n_cells


def test_two_level_dispatch_end_to_end(spark, monkeypatch):
    """Force the budget low: semdedup_keep, prototype_prune,
    cluster_balanced_sample and the IVF index round-trip must all run on
    the two-level tier, stay deterministic, and keep their semantics
    (subset outputs, per-cell keep fractions, serving recall)."""
    import math
    import tempfile

    monkeypatch.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    ids = {r.vec_id for r in corpus.select("vec_id").collect()}

    kept = similarity.semdedup_keep(corpus, threshold=0.95, n_cells=16)
    k1 = {r.vec_id for r in kept.collect()}
    k2 = {r.vec_id for r in kept.collect()}
    assert k1 == k2 and k1 <= ids and len(k1) > 0

    pruned = similarity.prototype_prune(
        corpus, keep_frac=0.5, n_cells=16
    ).collect()
    assert {r.vec_id for r in pruned} <= ids
    by_cell: dict[int, int] = {}
    for r in pruned:
        by_cell[r.cell] = by_cell.get(r.cell, 0) + 1
    # each cell keeps ceil(0.5 * cell_n) — spot-check total is plausible
    assert 0 < len(pruned) <= math.ceil(0.5 * len(ids)) + len(by_cell)

    cbs = similarity.cluster_balanced_sample(corpus, n_cells=16)
    c1 = {r.vec_id for r in cbs.collect()}
    assert c1 <= ids and len(c1) > 0

    queries = corpus.where(F.col("vec_id") % 20 < 1)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    idx = tempfile.mkdtemp(prefix="ctspark_twolevel_idx_")
    similarity.ivf_build_index(corpus, idx, n_cells=16)
    served = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk_indexed(
            spark, idx, queries, k=5, n_probe=8
        ).collect()
    }
    recall = len(exact & served) / len(exact)
    assert recall >= 0.9, f"two-level indexed serving recall@5 = {recall}"


def test_two_level_refine_distributed(spark, monkeypatch, tmp_path):
    """r13 (r12 verdict task 1): refine_iters above the budget no longer
    fails fast — refinement runs distributed (assign via the two-level
    tier, update as one groupBy((cell,pos)) decimal-staged mean pass).
    The model must never reach the driver (driver rows stay at the
    coarse size), the refined centroids must actually move off the
    hash-pick seeds, cells keep their ids/dtype contract, and the
    refined store must serve with recall at least as good as pytest's
    two-level bar."""
    monkeypatch.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    queries = corpus.where(F.col("vec_id") % 20 < 1)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }

    seeds = similarity._ivf_centroid_frame(
        corpus, 16, "vec_id", "embedding", 42
    )
    refined = similarity.ivf_refine_centroids_distributed(
        corpus, seeds, 16, n_iters=2
    )
    # only the coarse model (min(max(16,isqrt(16)), 8) = 8 rows) ever
    # reached the driver during refinement
    assert similarity._LAST_DRIVER_MODEL_ROWS == 8
    ref_rows = {r["cell"]: list(r["centroid"]) for r in refined.collect()}
    seed_rows = {r["cell"]: [float(x) for x in r["centroid"]]
                 for r in seeds.collect()}
    assert set(ref_rows) == set(seed_rows) == set(range(16))
    moved = sum(1 for c in ref_rows if ref_rows[c] != seed_rows[c])
    assert moved > 8, f"refinement moved only {moved}/16 centroids"
    # determinism: a second run is bit-identical (decimal-staged means)
    rerun = {
        r["cell"]: list(r["centroid"])
        for r in similarity.ivf_refine_centroids_distributed(
            corpus, seeds, 16, n_iters=2
        ).collect()
    }
    assert rerun == ref_rows

    idx = str(tmp_path / "refined2l")
    similarity.ivf_build_index(corpus, idx, n_cells=16, refine_iters=2)
    assert similarity._LAST_DRIVER_MODEL_ROWS == 8
    # the persisted model IS the refined frame (means, not members)
    stored = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(idx + "/_centroids").collect()
    }
    assert stored == ref_rows
    served = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk_indexed(
            spark, idx, queries, k=5, n_probe=8
        ).collect()
    }
    recall = len(exact & served) / len(exact)
    assert recall >= 0.9, f"refined two-level serving recall@5 = {recall}"

    # the non-indexed one-shot path accepts refine_iters above the
    # budget too (it shared the old fail-fast)
    oneshot = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            corpus, queries, k=5, n_cells=16, n_probe=8, refine_iters=1
        ).collect()
    }
    assert len(exact & oneshot) / len(exact) >= 0.9


def test_two_level_topt_probes_dedup_and_match(spark):
    """t>1 probe path under fine_rep replication (r11): the same
    (row, cell) candidate surfaces through several probed coarse owners;
    the per-(row, cell) dedup must keep each cell in at most ONE of the
    t slots, and under exhaustive coarse probes the t cells per row must
    equal the brute-force cosine top-t (desc cosine, asc cell on ties) —
    a duplicated cell eating two slots would drop the true t-th cell."""
    import numpy as np

    t = 3
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    cents = similarity._ivf_centroid_frame(
        corpus, 64, "vec_id", "embedding", 42
    )
    cent_rows = sorted(cents.collect(), key=lambda r: r["cell"])
    cmat = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    cells = np.asarray([r["cell"] for r in cent_rows])
    # expectation uses the IMPLEMENTATION's arithmetic (dot / (vnorm *
    # fnorm), no pre-normalized centroid matrix) so near-tie cosines on
    # this near-duplicate fixture can't flip the exact-order assertion
    fnorm = np.sqrt((cmat * cmat).sum(axis=1))

    got: dict[int, list[tuple[float, int]]] = {}
    for r in similarity._two_level_assign(
        corpus, cents, 64, "vec_id", "embedding", "n",
        t=t, coarse_probe=10**9, with_cos=True,
    ).collect():
        got.setdefault(r.n_id, []).append((r.n_cos, r.cell))

    rows = {r.vec_id: r.embedding for r in corpus.collect()}
    assert set(got) == set(rows)
    for vid, pairs in got.items():
        probe_cells = [c for _cos, c in sorted(pairs, key=lambda p: (-p[0], p[1]))]
        assert len(probe_cells) == t
        assert len(set(probe_cells)) == t, f"row {vid}: duplicate cell in top-{t}"
        v = np.asarray(rows[vid], dtype=np.float64)
        vnorm = np.sqrt((v * v).sum())
        cos = (cmat @ v) / (vnorm * fnorm)
        order = sorted(range(len(cells)), key=lambda i: (-cos[i], cells[i]))
        want = [int(cells[i]) for i in order[:t]]
        assert probe_cells == want, f"row {vid}: {probe_cells} != {want}"


def test_two_level_batch_smaller_than_coarse_model(spark):
    """r12 regression (found by the over-budget soak rung): an input
    batch SMALLER than the coarse model leaves most cogroup groups with
    an empty row side; the empty output frame must be object-dtyped or
    Arrow fails to convert pandas' float64-defaulted empty columns to
    the array<float> output field. 4 float32 rows against a 64-cell /
    16-coarse model — every row must still assign, to a valid cell."""
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    # float32 vectors (the testdata encoding that exposed the bug)
    corpus_f = corpus.select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    cents = similarity._ivf_centroid_frame(
        corpus_f, 64, "vec_id", "embedding", 42
    )
    batch = corpus_f.where(F.col("vec_id") < 4)
    for t in (1, 4):
        got = similarity._two_level_assign(
            batch, cents, 64, "vec_id", "embedding", "n", t=t
        ).collect()
        assert len(got) == 4 * t
        assert all(0 <= r.cell < 64 for r in got)


def test_pq_ivf_two_level_serve_dispatch(spark, monkeypatch, tmp_path):
    """r12 (r11 verdict task 1): a PQ-IVF store past
    _DRIVER_MODEL_CELL_BUDGET probes through the two-level tier — no
    full-centroid broadcast crossJoin, driver model rows sqrt-sized —
    while keeping the probed-cell PartitionFilters pruning, and ADC
    scores (raw AND the residual <q,c> base term) bit-identical to the
    literal tier for the (query, neighbor) pairs both tiers admit."""
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    queries = corpus.where(F.col("vec_id") % 20 < 1)
    for residual in (False, True):
        idx = str(tmp_path / f"pqivf2ls_{int(residual)}")
        # build BELOW budget: both serves read the identical store and
        # differ only in probe transport
        similarity.pq_ivf_build_index(
            corpus, idx, n_cells=16, residual=residual
        )
        one = {
            (r.query_id, r.neighbor_id): r.score
            for r in similarity.pq_ivf_topk_indexed(
                spark, idx, queries, k=5, n_probe=4
            ).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
            out = similarity.pq_ivf_topk_indexed(
                spark, idx, queries, k=5, n_probe=4
            )
            two = {
                (r.query_id, r.neighbor_id): r.score for r in out.collect()
            }
            # driver saw only the coarse model: min(max(16, isqrt(16)), 8)
            assert similarity._LAST_DRIVER_MODEL_ROWS == 8
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters: [cell" in plan, plan[:2000]
        overlap = set(one) & set(two)
        assert len(overlap) / len(one) >= 0.9, (
            f"residual={residual}: two-level probe overlap "
            f"{len(overlap)}/{len(one)}"
        )
        for pair in sorted(overlap):
            assert two[pair] == one[pair], (residual, pair)


def test_pq_ivf_two_level_build_append_guard(spark, monkeypatch, tmp_path):
    """r12: build and append past the budget assign through the
    two-level tier (driver model sqrt-sized, no full-centroid collect),
    the store keeps cell partitioning + serve recall. r13: refine_iters
    past the budget builds through the DISTRIBUTED refiner instead of
    failing fast — the refined residual store must serve (it is the
    measured-best composition the old guard locked out)."""
    monkeypatch.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    queries = corpus.where(F.col("vec_id") % 20 < 1)
    n_corpus = corpus.count()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    ridx = str(tmp_path / "pqivf2l_refined")
    similarity.pq_ivf_build_index(
        corpus, ridx, n_cells=16, residual=True, refine_iters=1
    )
    assert similarity._LAST_DRIVER_MODEL_ROWS == 8
    served_r = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_ivf_topk_indexed(
            spark, ridx, queries, k=5, n_probe=8,
            rerank_corpus=corpus, rerank_factor=4,
        ).collect()
    }
    recall_r = len(exact & served_r) / len(exact)
    assert recall_r >= 0.9, f"refined residual recall@5 = {recall_r}"
    for residual in (False, True):
        idx = str(tmp_path / f"pqivf2lb_{int(residual)}")
        similarity.pq_ivf_build_index(
            corpus.where(F.col("vec_id") % 2 == 0), idx, n_cells=16,
            residual=residual,
        )
        assert similarity._LAST_DRIVER_MODEL_ROWS == 8
        similarity.pq_ivf_index_append(
            corpus.where(F.col("vec_id") % 2 == 1), idx
        )
        assert similarity._LAST_DRIVER_MODEL_ROWS == 8
        assert spark.read.parquet(idx + "/codes").count() == n_corpus
        served = {
            (r.query_id, r.neighbor_id)
            for r in similarity.pq_ivf_topk_indexed(
                spark, idx, queries, k=5, n_probe=8,
                rerank_corpus=corpus, rerank_factor=4,
            ).collect()
        }
        recall = len(exact & served) / len(exact)
        assert recall >= 0.9, f"residual={residual} recall@5 = {recall}"


def test_stored_seed_threads_through_serve_and_append(
    spark, monkeypatch, tmp_path
):
    """r13 (r12 advice): the two-level tier derives its coarse model
    from the build seed, so an index built with a non-default seed must
    have serve/append probe through THE SAME coarse model as its stored
    assignments — the seed is persisted in the _meta sidecar and read
    back (_stored_seed), never defaulted. A pre-r13 store without the
    sidecar reads as the historical default 42."""
    corpus, _per = _planted_cluster_corpus(spark, n_clusters=16, per=20)
    queries = corpus.where(F.col("vec_id") % 20 < 2)

    idx_pq = str(tmp_path / "seeded_pq")
    idx_ivf = str(tmp_path / "seeded_ivf")
    with monkeypatch.context() as m:
        m.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
        similarity.pq_ivf_build_index(corpus, idx_pq, n_cells=16, seed=7)
        similarity.ivf_build_index(corpus, idx_ivf, n_cells=16, seed=7)
    assert similarity._stored_seed(spark, idx_pq) == 7
    assert similarity._stored_seed(spark, idx_ivf) == 7
    # a store with no _meta (pre-r13) reads as the historical default
    assert similarity._stored_seed(spark, str(tmp_path / "nothing")) == 42

    real = similarity._two_level_assign
    seen: list[int] = []

    def spy(*args, **kwargs):
        seen.append(kwargs.get("seed", 42))
        return real(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
        m.setattr(similarity, "_two_level_assign", spy)
        similarity.pq_ivf_topk_indexed(
            spark, idx_pq, queries, k=3, n_probe=4
        ).collect()
        similarity.pq_ivf_index_append(
            queries.withColumn("vec_id", F.col("vec_id") + 10_000), idx_pq
        )
        similarity.ivf_topk_indexed(
            spark, idx_ivf, queries, k=3, n_probe=4
        ).collect()
        similarity.ivf_index_append(
            queries.withColumn("vec_id", F.col("vec_id") + 10_000), idx_ivf
        )
    assert seen and all(s == 7 for s in seen), seen

    # compaction carries the seed sidecar through the swap
    with monkeypatch.context() as m:
        m.setattr(similarity, "_DRIVER_MODEL_CELL_BUDGET", 8)
        similarity.ivf_index_compact(spark, idx_ivf)
        similarity.pq_ivf_index_compact(spark, idx_pq)
    assert similarity._stored_seed(spark, idx_ivf) == 7
    assert similarity._stored_seed(spark, idx_pq) == 7
    assert similarity._pq_ivf_is_residual(spark, idx_pq) is False


# ---------------------------------------------------------------------------
# Pillow seam (r10): routing + contract proven via a PIL-compatible fake;
# the real-Pillow test below runs wherever the library is installed.
# ---------------------------------------------------------------------------


def _make_fake_pil():
    """PIL.Image-API-compatible fake backed by the repo's own BMP parser.
    Defined inside a factory so cloudpickle serializes the classes BY
    VALUE — a module-level class in a test file pickles by reference,
    which Spark's Python workers cannot import. Implements exactly the
    call chain _make_pillow_decoder uses: open -> convert('L') ->
    resize((4,4), NEAREST) -> getdata(), with Pillow's documented
    NEAREST sample rule floor((i+.5)*src/dst)."""

    class FakePILImage:
        def __init__(self, w, h, data, mode):
            self.w, self.h, self.data, self.mode = w, h, data, mode

        def convert(self, mode):
            assert mode == "L" and self.mode == "RGB"
            luma = [
                (
                    299 * self.data[3 * i]
                    + 587 * self.data[3 * i + 1]
                    + 114 * self.data[3 * i + 2]
                )
                // 1000
                for i in range(self.w * self.h)
            ]
            return FakePILImage(self.w, self.h, luma, "L")

        def resize(self, size, resample):
            assert resample is FakePIL.Resampling.NEAREST and self.mode == "L"
            tw, th = size
            out = [
                self.data[
                    int((i + 0.5) * self.h / th) * self.w
                    + int((j + 0.5) * self.w / tw)
                ]
                for i in range(th)
                for j in range(tw)
            ]
            return FakePILImage(tw, th, out, "L")

        def getdata(self):
            return list(self.data)

    class Resampling:
        NEAREST = "nearest"

    class FakePIL:
        pass

    FakePIL.Resampling = Resampling

    def _open(fp):
        w, h, rgb = multimodal.decode_bmp(fp.read())
        return FakePILImage(w, h, rgb, "RGB")

    FakePIL.open = staticmethod(_open)
    return FakePIL


def test_pillow_seam_contract_with_fake():
    """_make_pillow_decoder's wrapping (BytesIO handoff, L conversion,
    4x4 NEAREST sample, /255 normalization, row-major order) and its
    audio/video routing, exercised end-to-end through a PIL-compatible
    fake — green evidence for the seam in containers without Pillow."""
    dec = multimodal._make_pillow_decoder(_make_fake_pil())
    # 6x5 image: a size where Pillow's floor((i+.5)*h/4) sample points
    # differ from bmp_decoder's (i*h+h//2)//4 on no rows but the code
    # path is the fake's, not bmp_decoder's
    w, h = 6, 5
    rgb = bytes((7 * i) % 256 for i in range(3 * w * h))
    payload = multimodal.encode_bmp(w, h, rgb)
    feats = dec(payload, "image")
    assert len(feats) == 16 and all(0.0 <= f <= 1.0 for f in feats)
    # independent expectation straight off the decoded pixels
    _w, _h, flat = multimodal.decode_bmp(payload)
    expected = []
    for i in range(4):
        y = int((i + 0.5) * h / 4)
        for j in range(4):
            x = int((j + 0.5) * w / 4)
            r, g, b = flat[3 * (y * w + x) : 3 * (y * w + x) + 3]
            expected.append((299 * r + 587 * g + 114 * b) // 1000 / 255.0)
    assert feats == expected
    # audio/video route to the dependency-free codecs unchanged
    sr, pcm = 8000, bytes(range(250)) * 4
    wav = multimodal.encode_wav(sr, 1, pcm)
    assert dec(wav, "audio") == multimodal.wav_decoder(wav)
    # garbage raises (extract_features turns that into decode_ok=false)
    with pytest.raises(Exception):
        dec(b"not an image at all", "image")


def test_pillow_seam_decode_ok_fallback(spark):
    """The injected-Pillow decoder through the REAL Spark plumbing:
    extract_features marks garbage rows decode_ok=false and decodes the
    rest — identical batch behavior to the default codec path."""
    media = multimodal.synthetic_media(spark, n=30)
    dec = multimodal._make_pillow_decoder(_make_fake_pil())
    rows = multimodal.extract_features(media, decoder=dec).collect()
    ok = [r for r in rows if r.decode_ok]
    bad = [r for r in rows if not r.decode_ok]
    assert ok and all(r.feat_dim == 16 for r in ok)
    assert len(bad) == len([i for i in range(30) if i % 37 == 0])


def test_pillow_real_decoder_if_installed(spark):
    """The production path with REAL Pillow: a PNG (a format the default
    BMP codec cannot read) decodes through resolve_decoder() to the
    16-feature contract; garbage still falls back. Skips where Pillow is
    absent — the fake-backed tests above keep the seam green there."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    img = PIL.new("RGB", (9, 7))
    img.putdata(
        [((5 * i) % 256, (11 * i) % 256, (23 * i) % 256) for i in range(63)]
    )
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    png = buf.getvalue()
    dec = multimodal.resolve_decoder()
    assert dec is not multimodal.bmp_decoder  # Pillow was picked up
    feats = dec(png, "image")
    assert len(feats) == 16 and all(0.0 <= f <= 1.0 for f in feats)
    rows = (
        multimodal.extract_features(
            spark.createDataFrame(
                [
                    (1, "image", png, len(png)),
                    (2, "image", b"garbage", 7),
                ],
                "media_id long, kind string, payload binary, n_bytes long",
            ),
            decoder=dec,
        )
        .orderBy("media_id")
        .collect()
    )
    assert rows[0].decode_ok and rows[0].feat_dim == 16
    assert not rows[1].decode_ok
