"""Streaming event-rate monitor — the anomaly-detection daemon.

The streaming twin of operators/statistics.py:rate_anomaly: a
continuously-arriving event stream is bucketed per trigger, the batch's
(key, bucket) count DELTAS are folded into a persisted history table,
and the full history — model-sized: |keys| x |time buckets|, independent
of event volume — is re-scored with the same exact-moment z-expression
every trigger. Anomalous buckets land in an alerts table a pager can
tail.

Replay safety (the dedup_stream contract): per-batch deltas are keyed
by batch id and written with DYNAMIC partition overwrite, so a replayed
batch overwrites exactly its own partitions — totals never double-count
under at-least-once delivery. The alerts table is a rewrite of a
deterministic function of the history, so it is idempotent by
construction — staged and ATOMICALLY swapped into place (fsutil
rename-aside), so a pager tailing it never reads an empty/partial table
mid-trigger and a crash mid-rewrite leaves the previous alerts intact.
Combined with checkpointLocation this is effectively-once.

Why re-score the whole history instead of streaming the z-state: the
rolling window needs the trailing `trailing` OBSERVED buckets per key,
and a bucket's count is not final until every late event for it has
arrived — incremental z-state would either freeze early counts or
re-open state per late event. Re-scoring the keys-x-buckets frame costs
one model-sized window per trigger and is always consistent with the
batch operator (equivalence is pytest-asserted).

Reference anchor: SURVEY §2.8 T6's staleness/health monitoring is the
operational cousin (streaming/telemetry.py watches the ENGINE's
progress; this daemon watches the DATA's rate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ct_mapreduce_spark.operators.statistics import zscore_counts

EVENTS_SCHEMA = "event_id long, ts timestamp, event_type string"


def history_totals(spark: SparkSession, history_path: str) -> DataFrame:
    """Current (key, bucket_ts, n) totals: the per-batch deltas summed.
    Map-side combined; the frame is keys x buckets, model-sized."""
    return (
        spark.read.parquet(history_path)
        .groupBy("key", "bucket_ts")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def start_rate_monitor(
    spark: SparkSession,
    source_path: str,
    history_path: str,
    alerts_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
    trailing: int = 24,
    warmup: int = 12,
    z_threshold: float = 3.0,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    schema: str = EVENTS_SCHEMA,
) -> StreamingQuery:
    """File-source event stream -> per-trigger count deltas -> rolling
    z-score alerts.

    Each trigger: (1) the micro-batch collapses to (key, bucket, n)
    deltas in one map-side-combined groupBy — the only pass over event
    rows; (2) deltas write under ingest_batch=<id> with dynamic
    overwrite (replay-idempotent); (3) the summed history re-scores
    under zscore_counts and anomalous buckets overwrite the alerts
    table. Late events simply add a delta to their own bucket — the
    next trigger's re-score sees the corrected count, which is exactly
    the batch operator's answer on the same data."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a CLONED SparkSession: reads key off THAT
        # session; the delta write sets dynamic overwrite on the writer
        # itself, so no session conf can turn it STATIC (the r6 lesson).
        session = batch_df.sparkSession
        delta = (
            batch_df.groupBy(
                F.col(key_col).alias("key"),
                F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("ingest_batch", F.lit(str(batch_id)))
        )
        delta.coalesce(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("ingest_batch").parquet(history_path)
        scored = zscore_counts(
            history_totals(session, history_path),
            trailing=trailing,
            warmup=warmup,
            z_threshold=z_threshold,
        )
        # deterministic function of the history — idempotent under
        # replay by construction. Written to a staging dir and swapped
        # atomically (fsutil's rename-aside protocol): a plain overwrite
        # is delete-then-write, so a pager tailing alerts_path could
        # read an empty/partial table mid-trigger, and a crash between
        # the delete and the write would leave it missing entirely.
        from ct_mapreduce_spark.fsutil import (
            TMP_SUFFIX,
            recover_swap,
            swap_into_place,
        )

        recover_swap(session, alerts_path)
        scored.where(F.col("is_anomaly")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(alerts_path + TMP_SUFFIX)
        swap_into_place(session, alerts_path + TMP_SUFFIX, alerts_path)

    stream = (
        spark.readStream.schema(schema)
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
