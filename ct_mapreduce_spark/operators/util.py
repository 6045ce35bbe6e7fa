"""Shared physical-layout helpers for operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Attribute set by sources.tables.load_table: a filesystem-derived estimate
# of the scan's partition count. Lets fan_out make its repartition decision
# without touching df.rdd (which forces an extra physical-planning pass).
SCAN_PARTS_ATTR = "_ctmr_scan_parts"


_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _conf_bytes(spark, key: str, default: int) -> int:
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    for suf, mult in _UNITS.items():
        if raw.endswith(suf + "b") or raw.endswith(suf):
            return int(float(raw.rstrip("b").rstrip(suf))) * mult
    return int(float(raw.rstrip("b") or default))


def estimate_scan_partitions(spark, total_bytes: int, n_files: int) -> int:
    """Mirror of Spark's FilePartition packing math, close enough to decide
    "is this scan under-parallelized?": splits are at most maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)),
    each file is padded by openCostInBytes, and splits are bin-packed into
    partitions of maxSplitBytes.
    """
    max_part = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    par = max(spark.sparkContext.defaultParallelism, 1)
    max_split = max(1, min(max_part, max(open_cost, total_bytes // par)))
    # First file's open cost doesn't force a new bin — a lone small file is
    # always one partition, however small max_split is.
    padded = total_bytes + max(0, n_files - 1) * open_cost
    return max(1, -(-padded // max_split))


def run_parallel(*thunks) -> None:
    """Run independent Spark actions as concurrent driver-submitted jobs
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially). Used for multi-sink writes to DISJOINT
    directories that share one materialized input — the later jobs'
    tasks back-fill cores the earlier jobs' commit tails leave idle.
    Each thunk runs with the caller's local properties (job group,
    description, scheduler pool), captured here in the caller's thread,
    so its jobs count, cancel and schedule with the caller's.
    Errors propagate (first one raised) after all jobs settle, so a
    failed sibling can't leave a write silently unchecked."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
    if errs:
        raise errs[0]


# Per-write override for APPEND-mode sinks: commit algorithm v1. The
# session default is v2 (task outputs rename straight into the
# destination at task commit — session.py), which is safe for the
# overwrite/swap sinks because every gate there checks _SUCCESS or swaps
# whole directories aside. A bare APPEND's destination already carries
# the _SUCCESS of the previous successful write, so v2's committed task
# files from a FAILED append would be silently read as store rows
# (r14 ADVICE). v1 stages task output under _temporary (ignored by
# parquet listing) until job commit, restoring ~all-or-nothing appends;
# the driver-side merge cost returns only on these O(batch) appends,
# never on the bulk overwrite sinks.
APPEND_COMMITTER_V1 = ("mapreduce.fileoutputcommitter.algorithm.version", "1")


def append_v1(writer):
    """Apply the v1-committer option to a DataFrameWriter used in append
    mode (see APPEND_COMMITTER_V1)."""
    return writer.option(*APPEND_COMMITTER_V1)


def local_frame(spark, rows, schema: str) -> DataFrame:
    """Driver-local model frame (centroids, codebooks, offsets, sidecar
    metadata) as a JVM LocalTableScan instead of a Python-RDD scan.

    `spark.createDataFrame(<list of tuples>)` parallelizes PICKLED rows:
    every job that executes the frame — a sidecar parquet write, a
    broadcast build — must round-trip a Python worker just to unpickle a
    handful of model rows (r14, measured: a 1-row _meta sidecar write
    cost 8-10 s on a box with slow worker spawn, 0.26 s via this path —
    the worker spawn is environment-dependent, the needless Python
    round-trip is not). Routing the same rows through a pandas frame
    converts driver-side via Arrow into a JVM-local relation; executors
    never involve Python. Values are identical for the exact-typed rows
    the engine passes (ints, finite floats, bools, strings, bytes, float
    arrays); any conversion failure falls back to the classic path.
    Two value classes stay on the classic path by detection, not luck:
    timestamp-bearing rows (tz semantics differ between the pickle and
    Arrow ingests) and rows carrying a float NaN anywhere (the Arrow
    ingest's from_pandas semantics turn a top-level NaN cell into NULL,
    while the pickle path preserves NaN — r14 ADVICE; the recursive scan
    is O(model rows), never data)."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    def _has_nan(v) -> bool:
        if isinstance(v, float):
            return math.isnan(v)
        if isinstance(v, (list, tuple)):
            return any(_has_nan(x) for x in v)
        return False

    if any(_has_nan(v) for r in rows for v in r):
        return spark.createDataFrame(rows, schema)
    try:
        names = T._parse_datatype_string(schema).fieldNames()
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in rows], dtype="object")
                for i, n in enumerate(names)
            },
            columns=names,
        )
        return spark.createDataFrame(pdf, schema)
    except Exception:  # noqa: BLE001 — conversion is an optimization only
        return spark.createDataFrame(rows, schema)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure CPU-dense per-row work is spread across the cluster.

    Parquet inputs are partitioned by bytes (maxPartitionBytes); a small
    file of wide text rows lands in ONE partition and a heavy per-row
    operator (regex battery, minhash, cosine) then runs on one core. Only
    repartitions when the input is under-parallelized — on real multi-file
    inputs at scale this is a no-op, so no gratuitous shuffle.

    The under-parallelized check prefers the filesystem-derived estimate
    that load_table attaches (SCAN_PARTS_ATTR) — pure os.stat arithmetic,
    no plan analysis. Frames without the annotation (already transformed,
    or from another source) fall back to probing df.rdd, which costs one
    extra physical-planning pass on the driver but never a job.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    est = getattr(df, SCAN_PARTS_ATTR, None)
    n = est if est is not None else df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df
