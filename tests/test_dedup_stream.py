"""Streaming incremental dedup (streaming/dedup_stream.py): cross-batch
dedup through the growing index, within-batch dedup, and replay
idempotence of the batch-keyed dynamic-overwrite writes."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ct_mapreduce_spark.operators.dedup_fuzzy import incremental_dedup_keep
from ct_mapreduce_spark.streaming.dedup_stream import (
    start_dedup_stream,
    write_postings,
)

SF = "/root/testdata/sf0.001"


def _one_file(df, src_dir: str, name: str, mtime: float) -> None:
    tmp = src_dir + "_stage_" + name
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(tmp + "/part-*.parquet")[0]
    os.makedirs(src_dir, exist_ok=True)
    dst = os.path.join(src_dir, name + ".parquet")
    shutil.copyfile(part, dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def corpus_and_batches(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    idx = str(tmp_path / "idx")
    write_postings(corpus, idx, batch_tag="base")
    batch_a = docs.where(F.col("doc_id") % 10 == 0)
    # batch B = verbatim copies of batch A under new ids: every row must
    # be deduped away — against A's survivors (appended postings) or
    # against the corpus (A's dropped rows were near-dups of it).
    batch_b = batch_a.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    src = str(tmp_path / "src")
    _one_file(batch_a, src, "b0", 1_000_000.0)
    _one_file(batch_b, src, "b1", 1_000_100.0)
    return idx, src, batch_a, str(tmp_path)


def _run(spark, idx, src, root, tag):
    keep = f"{root}/keep_{tag}"
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=idx,
        keep_path=keep,
        checkpoint=f"{root}/ckpt_{tag}",
    )
    q.awaitTermination(180)
    return keep


def test_stream_dedup_cross_and_within_batch(spark, corpus_and_batches):
    idx, src, batch_a, root = corpus_and_batches
    keep = _run(spark, idx, src, root, "t1")
    kept = spark.read.parquet(keep)
    by_batch = {
        str(r["ingest_batch"]): r["n"]
        for r in kept.groupBy("ingest_batch").agg(F.count("*").alias("n")).collect()
    }
    # batch 0 keeps a nonempty survivor subset of A; batch 1 (verbatim
    # copies) is fully deduped away — partition exists with zero rows or
    # is absent entirely.
    assert 0 < by_batch.get("0", 0) <= batch_a.count()
    assert by_batch.get("1", 0) == 0
    # survivors within batch 0 carry no exact duplicate texts
    texts = [
        r["text"]
        for r in kept.where(F.col("ingest_batch").cast("string") == "0").collect()
    ]
    assert len(texts) == len(set(texts))


def test_stream_dedup_replay_idempotent(spark, corpus_and_batches):
    idx, src, _, root = corpus_and_batches
    keep = _run(spark, idx, src, root, "t2")
    first = sorted(
        tuple(r) for r in spark.read.parquet(keep).select("doc_id").collect()
    )
    sigs_files_first = len(glob.glob(idx + "/sigs_inc/ingest_batch=0/*.parquet"))
    # crash-replay simulation: wipe the checkpoint so BOTH batches are
    # re-delivered with the same batch ids against the already-written
    # index/keep partitions
    shutil.rmtree(f"{root}/ckpt_t2", ignore_errors=True)
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=idx,
        keep_path=keep,
        checkpoint=f"{root}/ckpt_t2",
    )
    q.awaitTermination(180)
    second = sorted(
        tuple(r) for r in spark.read.parquet(keep).select("doc_id").collect()
    )
    assert second == first
    # dynamic overwrite replaced the partition instead of doubling it
    sigs_files_second = len(glob.glob(idx + "/sigs_inc/ingest_batch=0/*.parquet"))
    assert sigs_files_second == sigs_files_first


def test_stream_cold_start_without_seeded_index(spark, tmp_path):
    """Starting the stream against a nonexistent index_path must not
    fail the first micro-batch: within-batch dedup still runs, survivors
    seed the index, and batch 2 dedups against them."""
    rows = [(i, f"cold start doc {i} with body words " * 4) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # batch 0 contains one within-batch duplicate pair (ids 20/21)
    batch_a = docs.union(
        spark.createDataFrame(
            [(20, rows[1][1]), (21, rows[1][1])], "doc_id long, text string"
        )
    )
    batch_b = batch_a.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    src = str(tmp_path / "src")
    _one_file(batch_a, src, "b0", 1_000_000.0)
    _one_file(batch_b, src, "b1", 1_000_100.0)
    idx = str(tmp_path / "never_seeded_idx")
    keep = _run(spark, idx, src, str(tmp_path), "cold")
    kept = spark.read.parquet(keep)
    by_batch = {
        str(r["ingest_batch"]): r["n"]
        for r in kept.groupBy("ingest_batch").agg(F.count("*").alias("n")).collect()
    }
    # batch 0: 14 rows minus within-batch dups; batch 1: all copies gone
    assert 0 < by_batch.get("0", 0) < 14
    assert by_batch.get("1", 0) == 0
    texts = [r["text"] for r in kept.collect()]
    assert len(texts) == len(set(texts))


def test_dedup_batch_copy_heavy_within_batch(spark, tmp_path):
    """Within-batch exact tier: a batch carrying many verbatim copies of
    one document keeps exactly the min-id representative (plus genuinely
    distinct docs) — same keep-set the banded tier would compute, minus
    its quadratic in-bucket pairing."""
    rows = [(i, f"baseline corpus doc {i} with filler words " * 4) for i in range(10)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx3")
    write_postings(corpus, idx, batch_tag="base")
    copy_text = "hot copied page body repeated across mirrors " * 5
    batch = spark.createDataFrame(
        [(200 + i, copy_text) for i in range(50)]
        + [(500, "a genuinely unique incoming document body " * 4)],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"] for r in incremental_dedup_keep(spark, idx, batch).collect()
    }
    assert kept == {200, 500}, kept


def test_all_duplicate_batch_then_next_batch(spark, tmp_path):
    """An ALL-duplicate micro-batch writes an empty keep-list and empty
    increment partitions (a _SUCCESS-only parquet tree); the NEXT batch
    must still probe cleanly — empty trees mean 'no rows', never an
    UNABLE_TO_INFER_SCHEMA failure. Also covers compaction over a mix of
    empty and non-empty increments."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        minhash_index_compact,
        minhash_signatures,
    )
    from ct_mapreduce_spark.operators.util import fan_out

    idx = str(tmp_path / "idx_allduP")

    def cycle(batch, tag):
        batch = batch.localCheckpoint(eager=True)
        sigs = minhash_signatures(fan_out(batch)).localCheckpoint(eager=True)
        kept = incremental_dedup_keep(spark, idx, batch, sigs=sigs)
        ksigs = sigs.join(kept.select("doc_id"), "doc_id", "left_semi")
        write_postings(kept, idx, batch_tag=tag, sigs=ksigs)
        return {r["doc_id"] for r in kept.collect()}

    rows = [(i, f"steady corpus doc {i} body words " * 3) for i in range(30)]
    b0 = spark.createDataFrame(rows, "doc_id long, text string")
    assert len(cycle(b0, "0")) == 30
    # batch 1: verbatim copies of batch 0 under new ids -> kept is EMPTY
    b1 = b0.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    assert cycle(b1, "1") == set()
    # batch 2 (fresh content) must work against the index with the empty
    # ingest_batch=1 increments present
    b2 = spark.createDataFrame(
        [(2000 + i, f"fresh follow-up doc {i} words " * 3) for i in range(10)],
        "doc_id long, text string",
    )
    assert len(cycle(b2, "2")) == 10
    # compaction folds the mixed (empty + non-empty) increments
    stats = minhash_index_compact(spark, idx)
    assert stats["banded"][1] > 0
    b3 = b2.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    assert cycle(b3, "3") == set()  # post-compact re-sends still dedup


def test_dedup_batch_exact_copy_dropped(spark, tmp_path):
    rows = [(i, f"unique text number {i} " * 5) for i in range(20)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx2")
    write_postings(corpus, idx, batch_tag="base")
    batch = spark.createDataFrame(
        [(100, rows[3][1]), (101, "completely fresh material never seen " * 4)],
        "doc_id long, text string",
    )
    kept = incremental_dedup_keep(spark, idx, batch).collect()
    assert {r["doc_id"] for r in kept} == {101}


def test_file_uri_index_path(spark, tmp_path):
    """An index addressed by URI (file://, like hdfs:// or s3a://) is
    probed and compacted exactly like the same index given as a plain
    path — an existence check that only understands local paths would
    see no index and silently turn every dedup tier off."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        exact_hash_probe,
        minhash_index_compact,
        minhash_signatures,
    )

    rows = [(i, f"unique text number {i} " * 5) for i in range(20)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx_uri")
    write_postings(corpus, idx, batch_tag="base")
    batch = spark.createDataFrame(
        [(100 + j, rows[3][1]) for j in range(3)]
        + [(200, "completely fresh material never seen " * 4)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(batch)
    for path in (idx, "file://" + idx):
        kept = incremental_dedup_keep(spark, path, batch).collect()
        assert {r["doc_id"] for r in kept} == {200}, path
        exact = exact_hash_probe(spark, path, sigs).collect()
        assert {r["doc_id"] for r in exact} == {100, 101, 102}, path
    out = minhash_index_compact(spark, "file://" + idx)
    assert set(out) == {"banded", "sigs", "hashes"}
    assert not os.path.exists(f"{idx}/banded_inc")
    kept = incremental_dedup_keep(spark, "file://" + idx, batch).collect()
    assert {r["doc_id"] for r in kept} == {200}


def test_stream_quality_and_lm_gates(spark, tmp_path):
    """Optional per-trigger gates: the heuristic quality filter and the
    persisted-model perplexity gate drop junk BEFORE any signature or
    index work; clean reference-like docs flow through to the keep-list."""
    from ct_mapreduce_spark.operators.lm import lm_score, lm_train_unigram

    good = "the data table holds many rows and each row has the value we need here today"
    rows = [(i, f"{good} item {i}") for i in range(8)]
    junk_quality = [(100, "zzz !!!! ....")]  # fails the composite score
    junk_lm = [(200, "qqqx wwwy eeez rrrt yyyu iiio pppa sssd " * 3)]
    docs = spark.createDataFrame(
        rows + junk_quality + junk_lm, "doc_id long, text string"
    )

    # persist a reference model trained on the clean docs only
    ref = spark.createDataFrame(rows, "doc_id long, text string")
    model_path = str(tmp_path / "lm_model")
    lm_train_unigram(ref, min_count=1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(model_path)
    model = spark.read.parquet(model_path)
    xents = {
        r.doc_id: r.xent_micro for r in lm_score(docs, model).collect()
    }
    # a cut between the clean docs' scores and the unseen-token doc's
    cut = (max(xents[i] for i, _ in rows) + xents[200]) // 2
    assert max(xents[i] for i, _ in rows) < cut < xents[200]

    src = str(tmp_path / "src")
    _one_file(docs, src, "b0", 1_000_000.0)
    keep = f"{tmp_path}/keep_gated"
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=str(tmp_path / "idx_gated"),
        keep_path=keep,
        checkpoint=f"{tmp_path}/ckpt_gated",
        quality_min=0.2,
        lm_model_path=model_path,
        lm_max_xent=int(cut),
    )
    q.awaitTermination(180)
    kept_ids = {r.doc_id for r in spark.read.parquet(keep).collect()}
    assert 100 not in kept_ids  # quality gate
    assert 200 not in kept_ids  # perplexity gate
    assert kept_ids & {i for i, _ in rows}  # clean docs survive


def test_stream_lm_gate_bigram_order(spark, tmp_path):
    """lm_order=2: the daemon scores under stupid backoff from the
    persisted {model}_bi sibling. A doc whose UNIGRAMS are all
    reference-like but whose word ORDER is scrambled scores worse than
    the in-order docs — the bigram tier's whole point — and a cut
    between them gates it out while in-order docs flow through."""
    from ct_mapreduce_spark.operators.lm import (
        lm_score_backoff,
        lm_train_bigram,
        lm_train_unigram,
    )

    good = "the data table holds many rows and each row has the value we need"
    rows = [(i, good) for i in range(8)]
    # same vocabulary, scrambled order -> bigram misses pay alpha
    scrambled = [(300, "value the rows holds data we table each and has the need")]
    docs = spark.createDataFrame(rows + scrambled, "doc_id long, text string")

    ref = spark.createDataFrame(rows, "doc_id long, text string")
    model_path = str(tmp_path / "lm2")
    lm_train_unigram(ref, min_count=1).coalesce(1).write.parquet(model_path)
    lm_train_bigram(ref, min_count=1).coalesce(1).write.parquet(
        model_path + "_bi"
    )
    uni = spark.read.parquet(model_path)
    bi = spark.read.parquet(model_path + "_bi")
    xents = {
        r.doc_id: r.xent_micro
        for r in lm_score_backoff(docs, uni, bi).collect()
    }
    assert max(xents[i] for i, _ in rows) < xents[300]
    cut = (max(xents[i] for i, _ in rows) + xents[300]) // 2

    src = str(tmp_path / "src")
    _one_file(docs, src, "b0", 1_000_000.0)
    keep = f"{tmp_path}/keep_bi"
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=str(tmp_path / "idx_bi"),
        keep_path=keep,
        checkpoint=f"{tmp_path}/ckpt_bi",
        lm_model_path=model_path,
        lm_max_xent=int(cut),
        lm_order=2,
    )
    q.awaitTermination(180)
    kept_ids = {r.doc_id for r in spark.read.parquet(keep).collect()}
    assert 300 not in kept_ids  # scrambled doc gated by the bigram tier
    assert kept_ids & {i for i, _ in rows}


def test_stream_lm_order2_over_order1_model_is_an_error(spark, tmp_path):
    """lm_order=2 over a model persisted at order 1 (no bigram sibling)
    fails the trigger with the same message curate_crawl gives, never a
    bare missing-path read or a silent unigram fallback."""
    from pyspark.errors import StreamingQueryException

    from ct_mapreduce_spark.operators.lm import lm_train_unigram

    docs = spark.createDataFrame(
        [(i, f"plain reference words number {i}") for i in range(4)],
        "doc_id long, text string",
    )
    model_path = str(tmp_path / "lm1")
    lm_train_unigram(docs, min_count=1).coalesce(1).write.parquet(model_path)
    src = str(tmp_path / "src")
    _one_file(docs, src, "b0", 1_000_000.0)
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=str(tmp_path / "idx"),
        keep_path=str(tmp_path / "keep"),
        checkpoint=str(tmp_path / "ckpt"),
        lm_model_path=model_path,
        lm_max_xent=10**9,
        lm_order=2,
    )
    with pytest.raises(StreamingQueryException, match="trained at order 1"):
        q.awaitTermination(180)


def test_compact_exclude_tags_preserves_inflight(spark, tmp_path):
    """minhash_index_compact(exclude_tags=...): committed increment tags
    fold into the pfx-clustered base; the excluded (in-flight) tag's
    partitions survive untouched in the increment trees, probe results
    are bit-identical, and a replayed dynamic overwrite of the excluded
    tag leaves the probe unchanged (the auto-compaction replay
    contract)."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        minhash_index_compact,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    batches = [docs.where(F.col("doc_id") % 3 == m) for m in range(3)]
    for m, b in enumerate(batches):
        write_postings(b, idx, batch_tag=str(m))

    probe = docs.select((F.col("doc_id") + 500000).alias("doc_id"), "text")

    def probe_kept():
        return sorted(
            r["doc_id"]
            for r in incremental_dedup_keep(spark, idx, probe).collect()
        )

    before = probe_kept()
    out = minhash_index_compact(spark, idx, exclude_tags={"2"})
    assert set(out) == {"banded", "sigs", "hashes"}
    # committed tags folded away; the in-flight tag's partitions remain
    for tree in ("banded_inc", "hashes_inc"):
        tags = {
            n
            for n in os.listdir(f"{idx}/{tree}")
            if n.startswith("ingest_batch=")
        }
        assert tags == {"ingest_batch=2"}, (tree, tags)
    sig_tags = {
        n
        for n in os.listdir(f"{idx}/sigs_inc")
        if n.startswith("ingest_batch=")
    }
    assert sig_tags == {"ingest_batch=2"}
    assert "ingest_batch=base" in os.listdir(f"{idx}/sigs")
    assert os.path.isdir(f"{idx}/banded")  # pfx-clustered base exists
    assert probe_kept() == before
    # replay of the excluded tag: dynamic overwrite replaces its own
    # partitions only; probe still bit-identical (no doubled postings)
    write_postings(batches[2], idx, batch_tag="2")
    assert probe_kept() == before
    # a later full compaction (stream stopped) folds the leftover tag
    minhash_index_compact(spark, idx)
    assert not os.path.exists(f"{idx}/banded_inc")
    assert probe_kept() == before


def test_stream_auto_compaction_bounded(spark, tmp_path):
    """compact_every=N keeps the increment tree bounded while the stream
    runs (no manual maintenance window), with the same keep-list as an
    uncompacted control run, and the compacted base still dedups a
    later re-crawl batch."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    n_batches = 6
    parts = [docs.where(F.col("doc_id") % n_batches == m) for m in range(n_batches)]
    for m, b in enumerate(parts):
        _one_file(b, src, f"b{m}", 1_000_000.0 + 100 * m)
    # final batch: verbatim copies of batch 0 under fresh ids — must be
    # fully deduped against content that by then lives in the BASE
    _one_file(
        parts[0].select((F.col("doc_id") + 700000).alias("doc_id"), "text"),
        src,
        f"b{n_batches}",
        1_000_000.0 + 100 * n_batches,
    )

    idx = str(tmp_path / "idx_auto")
    keep = str(tmp_path / "keep_auto")
    q = start_dedup_stream(
        spark,
        source_path=src,
        index_path=idx,
        keep_path=keep,
        checkpoint=str(tmp_path / "ckpt_auto"),
        compact_every=3,
    )
    q.awaitTermination(240)
    inc_tags = [
        n
        for n in os.listdir(f"{idx}/banded_inc")
        if n.startswith("ingest_batch=")
    ]
    assert len(inc_tags) <= 3, inc_tags  # bounded, not 7 accumulated
    assert os.path.isdir(f"{idx}/banded")  # base created by auto-compact
    kept = spark.read.parquet(keep)
    by_batch = {
        str(r["ingest_batch"]): r["n"]
        for r in kept.groupBy("ingest_batch").agg(F.count("*").alias("n")).collect()
    }
    assert by_batch.get(str(n_batches), 0) == 0  # re-crawl fully deduped

    # control: same source, no auto-compaction -> identical keep set
    idx2 = str(tmp_path / "idx_ctl")
    keep2 = str(tmp_path / "keep_ctl")
    q2 = start_dedup_stream(
        spark,
        source_path=src,
        index_path=idx2,
        keep_path=keep2,
        checkpoint=str(tmp_path / "ckpt_ctl"),
    )
    q2.awaitTermination(240)
    got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    want = sorted(
        r["doc_id"] for r in spark.read.parquet(keep2).select("doc_id").collect()
    )
    assert got == want
