"""storage-statistics as a single ROLLUP query.

The reference computes a 3-level report with nested loops of Redis point
reads (cmd/storage-statistics/storage-statistics.go:22-100): per
(issuer, expDate) distinct-serial counts (SCARD), per-issuer sums +
metadata-set sizes, and grand totals. That is exactly
`GROUP BY ROLLUP(issuer_id, exp_date)` (SURVEY §2.4 A1-A3) — one shuffle,
partial aggregation map-side, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ct_mapreduce_spark.schemas import LEAF_COUNTS


def stats_rollup(certs: DataFrame, exact: bool = True) -> DataFrame:
    """Rollup over (issuer_id, exp_date): distinct serial counts.

    Level 2 rows (issuer, exp_date)  = storage-statistics.go:49-55 lines,
    level 1 rows (issuer, NULL)      = per-issuer totals (:78-79),
    level 0 row  (NULL, NULL)        = grand totals (:82).

    The count is distinct over the full (exp_date, issuer_id, serial)
    triple: within a leaf group that equals distinct serials (= SCARD), and
    higher levels are *additive* sums of the leaf counts — exactly how the
    reference totals its report (sums at storage-statistics.go:44-53,82).
    A global count_distinct(serial) would differ (the same serial can recur
    under another issuer/date) and would not match the Go tool.

    exact=False swaps in approx_count_distinct (HLL) — the 100 TB path when
    +-2% is acceptable; the shuffle then carries fixed-size sketches
    instead of per-key serial sets.
    """
    cnt = (
        F.count_distinct(F.col("exp_date"), F.col("issuer_id"), F.col("serial"))
        if exact
        else F.approx_count_distinct(
            F.concat_ws("::", F.col("exp_date"), F.col("issuer_id"), F.hex("serial"))
        )
    )
    return (
        certs.rollup("issuer_id", "exp_date")
        .agg(
            cnt.alias("n_serials"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("issuer_id").alias("g_issuer"),
            F.grouping("exp_date").alias("g_exp"),
        )
    )


def stats_rollup_reagg(certs: DataFrame) -> DataFrame:
    """The additive-reaggregation form of stats_rollup: aggregate ONCE at
    leaf granularity, then fold the (tiny) leaf table for levels 1 and 0.

    GROUP BY ROLLUP plans through Expand, which replicates every input
    row once per level BEFORE the distinct shuffle — 3x the shuffle
    volume. Because each (exp_date, issuer_id, serial) triple lives in
    exactly one leaf group, leaf counts sum exactly to the higher levels
    (the same additivity the Go tool exploits,
    storage-statistics.go:44-53,82). At 100 TB the 3x shuffle dominates
    and this form wins; at local benchmark scale the extra job+
    materialization overhead makes the single-pass ROLLUP faster — both
    are kept, measured, and produce identical rows (column-compatible
    with stats_rollup)."""
    leaf = certs.groupBy("issuer_id", "exp_date").agg(
        F.count_distinct("serial").alias("n_serials"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    leaf = leaf.localCheckpoint(eager=True)
    l2 = leaf.select(
        "issuer_id",
        "exp_date",
        "n_serials",
        "n_rows",
        F.lit(0).cast("int").alias("g_issuer"),
        F.lit(0).cast("int").alias("g_exp"),
    )
    l1 = (
        leaf.groupBy("issuer_id")
        .agg(F.sum("n_serials").alias("n_serials"), F.sum("n_rows").alias("n_rows"))
        .select(
            "issuer_id",
            F.lit(None).cast("string").alias("exp_date"),
            "n_serials",
            "n_rows",
            F.lit(0).cast("int").alias("g_issuer"),
            F.lit(1).cast("int").alias("g_exp"),
        )
    )
    l0 = leaf.agg(
        F.sum("n_serials").alias("n_serials"), F.sum("n_rows").alias("n_rows")
    ).select(
        F.lit(None).cast("string").alias("issuer_id"),
        F.lit(None).cast("string").alias("exp_date"),
        "n_serials",
        "n_rows",
        F.lit(1).cast("int").alias("g_issuer"),
        F.lit(1).cast("int").alias("g_exp"),
    )
    return l2.unionByName(l1).unionByName(l0)


def update_leaf_counts(
    spark, agg_path: str, fresh_deduped: DataFrame
) -> DataFrame:
    """Incremental maintenance of the leaf statistics table: merge a
    NEW batch's per-(issuer, exp_date) counts into the stored aggregate
    without rescanning history — the reference's actual flow (each new
    cert bumps its SCARD set; statistics read the accumulated counts).

    Additivity holds because callers feed the output of the cross-run
    dedup gate (sinks.append_new_to_store): every fresh row's key is
    never-seen, so distinct-per-batch == contribution to distinct-ever.
    Counts merge as sums; the table is written temp-dir-then-rename-aside
    (same crash contract as the log-state sink), and a missing table is
    an EXPLICIT exists check — read errors on an existing table propagate
    rather than silently double-counting.

    Returns the merged table as written. The table is read (here and in
    the returned frame) with its declared schema, LEAF_COUNTS, so neither
    read submits a job to infer a schema from a footer."""
    from ct_mapreduce_spark.fsutil import path_exists, recover_swap

    delta = fresh_deduped.groupBy("issuer_id", "exp_date").agg(
        F.count_distinct("serial").alias("n_serials"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    recover_swap(spark, agg_path)
    current = (
        spark.read.schema(LEAF_COUNTS).parquet(agg_path)
        if path_exists(spark, agg_path)
        else None
    )
    merged = (
        delta
        if current is None
        else current.unionByName(delta)
        .groupBy("issuer_id", "exp_date")
        .agg(
            F.sum("n_serials").alias("n_serials"),
            F.sum("n_rows").alias("n_rows"),
        )
    )
    return _write_leaf_counts(spark, agg_path, merged)


def _write_leaf_counts(spark, agg_path: str, table: DataFrame) -> DataFrame:
    from ct_mapreduce_spark.fsutil import TMP_SUFFIX, swap_into_place

    table.select(*LEAF_COUNTS.fieldNames()).write.mode("overwrite").parquet(
        agg_path + TMP_SUFFIX
    )
    swap_into_place(spark, agg_path + TMP_SUFFIX, agg_path)
    return spark.read.schema(LEAF_COUNTS).parquet(agg_path)


def recompute_leaf_counts(spark, agg_path: str, store: DataFrame) -> DataFrame:
    """One-time bootstrap of the maintained leaf-count table from a FULL
    store scan — for stores that predate the table (plain `fetch --store`
    runs before the first `--append`). Merging only the incremental delta
    into a missing table would permanently undercount history; the
    additivity contract of update_leaf_counts assumes the table covers
    every prior append."""
    full = store.groupBy("issuer_id", "exp_date").agg(
        F.count_distinct("serial").alias("n_serials"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return _write_leaf_counts(spark, agg_path, full)


def rate_anomaly(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
    trailing: int = 24,
    warmup: int = 12,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Event-rate anomaly detection: per-key time-bucket counts scored
    by z-score against a trailing rolling baseline — the monitoring
    query that answers "did this log/event type suddenly spike or go
    quiet" (the reference's operators watch fetch rates the same way;
    health checks in streaming/telemetry.py are the streaming cousin).

    Semantics: the baseline for bucket t is the previous `trailing`
    OBSERVED buckets of the same key (ROWS frame, gaps skipped — a
    quiet-period gap shortens history rather than zero-filling, the
    usual monitoring choice). Buckets with fewer than `warmup` prior
    observations score 0 (never anomalous) so cold starts don't page.
    The variance gets a floor of 1.0 (count data: a PERFECTLY flat
    baseline must still flag a spike — guarding var=0 to z=0 would
    silence the most obvious anomaly; the floor also bounds z for
    near-constant baselines instead of exploding on 1-event jitter).

    Determinism contract: the rolling frame aggregates exact BIGINT
    moments (sum n, sum n^2, count) and mean/variance/z are ONE fixed
    double expression over those integers, rounded once at the edge —
    bit-identical across engines (the quality-formula discipline).
    Built-in stddev would NOT hash-match (Welford merge order differs).

    Scale shape: ONE map-side-combined groupBy collapses the corpus to
    the (key, bucket) frame — everything after, including the window,
    runs on a frame sized |keys| x |time buckets|, independent of event
    volume; the window partitions by key over that model-sized frame.

    Returns (key, bucket_ts, n, z_score, is_anomaly)."""
    counts = events.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return zscore_counts(counts, trailing, warmup, z_threshold)


def zscore_counts(
    counts: DataFrame,
    trailing: int = 24,
    warmup: int = 12,
    z_threshold: float = 3.0,
) -> DataFrame:
    """The scoring stage of rate_anomaly over an already-aggregated
    (key, bucket_ts, n) frame — shared by the batch operator and the
    streaming monitor (streaming/rate_stream.py), which maintains the
    counts frame incrementally and re-scores the model-sized history
    each trigger. Semantics and the determinism contract are documented
    on rate_anomaly."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(-int(trailing), -1)
    )
    s1 = F.sum("n").over(w).cast("long")
    s2 = F.sum(F.col("n") * F.col("n")).over(w).cast("long")
    c = F.count("n").over(w).cast("long")
    scored = counts.select(
        "key",
        "bucket_ts",
        "n",
        s1.alias("_s1"),
        s2.alias("_s2"),
        c.alias("_c"),
    )
    mean = F.col("_s1").cast("double") / F.col("_c")
    var = (
        F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double") / F.col("_c")
    ) / (F.col("_c") - 1)
    # _c >= 2 gate besides the warmup: var's (_c - 1) divisor makes a
    # key's first scored bucket 0/0 = NaN under warmup <= 1 (NaN z,
    # NaN-propagated is_anomaly) instead of the documented
    # never-anomalous cold start; the default warmup=12 only masked it
    z = F.when(
        (F.col("_c") >= int(warmup)) & (F.col("_c") >= 2),
        F.round(
            (F.col("n").cast("double") - mean)
            / F.sqrt(F.greatest(var, F.lit(1.0))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "key",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n",
        z.alias("z_score"),
        (F.abs(z) >= float(z_threshold)).alias("is_anomaly"),
    )


def full_report(certs_deduped: DataFrame, metadata: DataFrame) -> DataFrame:
    """Per-issuer report line: serial totals joined with metadata-set sizes
    (storage-statistics.go:36-79). metadata is the issuer_metadata() result
    — tiny (one row per issuer), so broadcast."""
    per_issuer = certs_deduped.groupBy("issuer_id").agg(
        F.count_distinct("serial", "exp_date").alias("n_serials"),
        F.count_distinct("exp_date").alias("n_exp_dates"),
    )
    return per_issuer.join(F.broadcast(metadata), "issuer_id", "left").select(
        "issuer_id",
        "n_serials",
        "n_exp_dates",
        F.size("crl_set").alias("n_crls"),
        F.size("dn_set").alias("n_dns"),
    )
