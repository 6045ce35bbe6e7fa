"""Streaming incremental dedup — the curation daemon.

A continuously-arriving document stream is deduplicated against
everything ever accepted before it, using the materialized MinHash index
(operators/dedup_fuzzy.py): per micro-batch, run the incremental-dedup
core (dedup_fuzzy.incremental_dedup_keep — the same tiers plans/curate.py
runs per crawl drop: probe the index, drop near-dups cross-batch AND
within-batch), append the survivors' posting lists, and emit the
survivors as the keep-list. This is the streaming face of the same
build-once/probe-pruned architecture the batch path uses — a 100 TB
corpus is not re-signed per batch; each trigger pays O(batch).

Replay safety (foreachBatch re-delivers a batch after a crash): every
write is keyed by the batch id and performed with DYNAMIC partition
overwrite (set per write, never on a session conf, so foreachBatch's
cloned session cannot silently run it STATIC), so a replayed batch
overwrites exactly its own partitions — postings, signatures, and
keep-list are idempotent without a transactional store. (Plain parquet
`append` would double-insert postings on replay, inflating
n_bands_matched; that is why the fold is dedup_fuzzy.write_postings,
whose increments carry an ingest_batch=... partition level, rather than
minhash_index_append.)

Reference anchor: the daemon shape mirrors SURVEY §2.8's T1-T3 ingest
loop (backpressure via trigger bounds, resume via checkpointLocation,
dedup making at-least-once delivery safe — ct-fetch.go:371-392); the
dedup tier itself is the engine's north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ct_mapreduce_spark.operators.dedup_fuzzy import (
    _overwrite_batch,
    incremental_dedup_keep,
    minhash_signatures,
    write_postings,
)
from ct_mapreduce_spark.operators.util import fan_out

DOCS_SCHEMA = "doc_id long, text string"


def start_dedup_stream(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    keep_path: str,
    checkpoint: str,
    est_threshold: float = 0.9,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    quality_min: float | None = None,
    lm_model_path: str | None = None,
    lm_max_xent: int | None = None,
    lm_order: int = 1,
    compact_every: int | None = None,
) -> StreamingQuery:
    """File-source document stream -> per-micro-batch incremental dedup.

    Optional quality gates run FIRST each trigger, in increasing-cost
    order (the curate pipeline's rule): `quality_min` applies the
    composite heuristic score as a codegen filter; `lm_model_path` +
    `lm_max_xent` apply the CCNet perplexity gate under a PERSISTED
    unigram model (train once with operators/lm.py and save to parquet
    — the daemon never retrains, so every batch scores under the same
    model and the vocabulary-sized table re-reads cheaply per trigger).
    `lm_order=2` scores under stupid backoff instead, reading the
    bigram table from the `{lm_model_path}_bi` sibling artifact (the
    curate_crawl layout, loaded by operators/lm.py:lm_gate_model — train
    both with lm_order=2 there, or persist lm_train_bigram yourself); a
    missing model or bigram sibling is a hard error at scoring time,
    never a silent unigram fallback. Gated-out documents never pay the
    signature pass or index work.

    Each trigger: probe + within-batch dedup (incremental_dedup_keep),
    write the keep-list partitioned by ingest_batch, fold the survivors'
    postings into the index so the NEXT batch dedups against them too.
    All three writes are batch-id-keyed dynamic overwrites =>
    replay-idempotent; combined with checkpointLocation this is
    effectively-once.

    Cold start is supported: with no index at index_path the first
    micro-batch runs within-batch dedup only and its survivors seed the
    index. Seeding a historical corpus first (write_postings under a
    'base' tag, or minhash_index_build) remains the way to dedup against
    pre-stream history.

    Lifecycle: each trigger adds a few coalesced increment files (the
    LSM shape in write_postings — per-batch walls measured FLAT at
    ~4.3 s over 20 toy batches, vs 12 -> 26 s growing under the old
    one-file-per-prefix-per-batch layout). Probes row-filter the small
    increments; over hundreds of triggers the accumulated increment
    partitions still grow per-batch wall (the r7 soak measured 11.8 ->
    25.2 s over 20 heavy batches). `compact_every=N` makes the daemon
    maintain ITSELF: whenever the banded increment tree holds >= N batch
    partitions, the trigger ends by folding all COMMITTED increments
    into the pfx-clustered base (minhash_index_compact with
    exclude_tags={this batch id} — only the in-flight batch can ever
    replay, and its partitions stay on disk for the replay's dynamic
    overwrite to hit, so auto-compaction preserves the
    replay-idempotence contract without stopping the stream). Crash
    mid-compact is covered by the swap protocol: recover_swap runs for
    each store at stream start. Manual compaction with the stream
    stopped (exclude_tags=None, folds everything) remains available for
    deployments that prefer an external maintenance window. CLI surface:
    `cli dedup stream --compact-every N` runs this daemon; `cli dedup
    compact` is the external window.
    """
    # complete/roll back any swap a crashed auto-compaction left behind
    # BEFORE the first probe reads the store
    from ct_mapreduce_spark.fsutil import recover_swap

    for _store in ("banded", "sigs", "hashes"):
        recover_swap(spark, f"{index_path}/{_store}")

    def _n_inc_batches(session: SparkSession) -> int:
        from ct_mapreduce_spark.fsutil import _fs_and_path

        fs, p = _fs_and_path(session, index_path + "/banded_inc")
        if not fs.exists(p):
            return 0
        return sum(
            1
            for st in fs.listStatus(p)
            if st.isDirectory()
            and st.getPath().getName().startswith("ingest_batch=")
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands the batch a CLONED SparkSession: every read
        # and the compaction key off THAT session (batch_df.sparkSession)
        session = batch_df.sparkSession
        gated = batch_df
        if quality_min is not None:
            from ct_mapreduce_spark.operators.text import quality_expr

            gated = gated.where(quality_expr("text") >= float(quality_min))
        # sign the micro-batch ONCE; probe, within-batch tier, and the
        # postings fold all share this frame
        batch_c = gated.localCheckpoint(eager=True)
        if lm_model_path is not None and lm_max_xent is not None:
            from ct_mapreduce_spark.operators.lm import (
                lm_gate_model,
                lm_score,
                lm_score_backoff,
            )

            model, bi = lm_gate_model(session, lm_model_path, lm_order)
            scores = (
                lm_score_backoff(batch_c, model, bi)
                if bi is not None
                else lm_score(batch_c, model)
            )
            passing = scores.where(
                F.col("xent_micro") <= int(lm_max_xent)
            )
            batch_c = batch_c.join(
                passing.select("doc_id"), "doc_id", "left_semi"
            ).localCheckpoint(eager=True)
        sigs = minhash_signatures(fan_out(batch_c)).localCheckpoint(
            eager=True
        )
        kept = incremental_dedup_keep(
            session, index_path, batch_c, est_threshold, sigs=sigs
        )
        kept_sigs = sigs.join(kept.select("doc_id"), "doc_id", "left_semi")
        _overwrite_batch(
            kept.withColumn("ingest_batch", F.lit(str(batch_id))), keep_path
        )
        write_postings(kept, index_path, batch_tag=str(batch_id), sigs=kept_sigs)
        if (
            compact_every is not None
            and _n_inc_batches(session) >= compact_every
        ):
            from ct_mapreduce_spark.operators.dedup_fuzzy import (
                minhash_index_compact,
            )

            minhash_index_compact(
                session, index_path, exclude_tags={str(batch_id)}
            )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
