"""Sinks beyond the main partitioned-parquet store (SURVEY §2.1).

S7  serial-list export  (storage/localdiskbackend.go:212-237)
S12 noop sink           (storage/noopbackend.go)
S6  log-state table     (storage/localdiskbackend.go:201-210 /
                         rediscache.go:180-204)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ct_mapreduce_spark.functions.codecs import serial_hex
from ct_mapreduce_spark.fsutil import (
    TMP_SUFFIX,
    count_parquet_files,
    path_exists,
    recover_swap,
    swap_into_place,
)
from ct_mapreduce_spark.schemas import LOG_STATES, STORE_KEYS


def write_serial_list(deduped: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: newline-delimited lowercase-hex serials, one directory per
    issuer (golden: serials 01,02,03 -> file bytes '30310A30320A30330A',
    localdiskbackend_test.go:60-85). Text sink writes one line per row;
    partitionBy(issuer_id) reproduces the per-issuer file layout."""
    (
        deduped.select(serial_hex("serial").alias("value"), "issuer_id")
        .write.partitionBy("issuer_id")
        .mode(mode)
        .text(path)
    )


def write_noop(df: DataFrame) -> None:
    """S12: Spark's built-in `noop` format — full execution, discarded
    output (the reference's cache-only mode, engine/engine.go:24,36-40)."""
    df.write.format("noop").mode("overwrite").save()


def write_log_states(states: DataFrame, path: str) -> None:
    """S6: the ingest-cursor table. Tiny; coalesce(1) keeps it a single
    file like the reference's per-log JSON blobs.

    Crash-safe write: the new table is fully written to a sibling temp
    directory first, then RENAME-ASIDE swapped into place (fsutil), so a
    mid-write failure never destroys the existing cursor table and an
    interrupted swap is recoverable from its leftovers (the reference's
    per-log JSON write has the same replace-not-append contract,
    localdiskbackend.go:201-210). The input plan may read from `path`
    itself (upsert_log_state does) — the temp-dir indirection also
    removes the read-then-overwrite hazard.
    """
    spark = states.sparkSession
    recover_swap(spark, path)
    states.coalesce(1).write.mode("overwrite").parquet(path + TMP_SUFFIX)
    swap_into_place(spark, path + TMP_SUFFIX, path)


def read_log_states(spark: SparkSession, path: str) -> DataFrame:
    """Blank-on-missing semantics (localdiskbackend.go:244-261): a missing
    store yields an empty frame with the right schema. Missing is an
    EXPLICIT exists check (after completing any interrupted swap) — read
    errors on an existing table propagate instead of masquerading as a
    first run."""
    recover_swap(spark, path)
    if not path_exists(spark, path):
        return spark.createDataFrame([], LOG_STATES)
    return spark.read.schema(LOG_STATES).parquet(path)


def upsert_log_state(
    spark: SparkSession, path: str, updates: DataFrame
) -> DataFrame:
    """Read-modify-write upsert keyed by url (filesystemdatabase.go:110-139
    read-through analog; no Delta in this image, so anti-join + union)."""
    current = read_log_states(spark, path)
    merged = updates.unionByName(current.join(updates, "url", "left_anti"))
    return merged


def append_new_to_store(
    deduped: DataFrame, path: str
) -> tuple[int, DataFrame]:
    """Cross-RUN first-seen gate: append only keys the store has never
    seen — the batch restatement of WasUnknown against persistent state
    (storage/filesystemdatabase.go:177-202: SADD gates every downstream
    write). Within-run dedup is the caller's job (ingest_batch); this
    guards across runs, so re-ingesting an overlapping batch is
    idempotent.

    Scale shape: the existing-keys read is COLUMN-PRUNED to the three
    key columns (check ReadSchema — the payload bytes never move) and
    takes their declared schema (STORE_KEYS), so no job reads a footer
    to infer it; the anti-join keys match the store's partition layout,
    and the append clusters like write_store. Returns (n_appended, the materialized
    fresh frame) so callers can chain incremental maintenance — e.g.
    operators/statistics.update_leaf_counts — without recomputing the
    anti-join. First-run detection is an EXPLICIT exists check: a failed
    read of an EXISTING store (corrupt footer, permissions, FS hiccup)
    propagates — silently skipping the gate would append duplicate keys
    and break the first-seen invariant."""
    spark = deduped.sparkSession
    recover_swap(spark, path)
    if path_exists(spark, path):
        existing = spark.read.schema(STORE_KEYS).parquet(path)
    else:  # first run: nothing to exclude
        existing = None
    fresh = (
        deduped
        if existing is None
        else deduped.join(
            existing, ["exp_date", "issuer_id", "serial"], "left_anti"
        )
    )
    # localCheckpoint: the append below writes INTO a path the anti-join
    # reads; materialize first so the plan never scans a directory that
    # is being appended to. Lazy + count (r15, guide §5): the count is
    # the materializing action — still strictly before the append write,
    # one job instead of two.
    fresh = fresh.localCheckpoint(eager=False)
    n = fresh.count()
    if n:
        from ct_mapreduce_spark.operators.util import append_v1

        (
            append_v1(
                fresh.hint("rebalance", "exp_date", "issuer_id")
                .write.partitionBy("exp_date", "issuer_id")
                .mode("append")
            ).parquet(path)
        )
    return n, fresh


def compact_store(spark: SparkSession, path: str) -> tuple[int, int]:
    """Store maintenance: rewrite accumulated small files into right-
    sized ones per (exp_date, issuer_id) directory — the lifecycle task
    behind the reference's dirty-marker files (localdiskbackend.go:89-91:
    mark now, clean later). Append-heavy ingest leaves one file per
    (run, partition); compaction restores O(bytes/target) files.

    Rewrites via temp-dir-then-rename-aside-swap (fsutil) so a
    mid-compaction failure never loses the store and an interrupted swap
    is recoverable. Returns (files_before, files_after), both counted by
    fsutil.count_parquet_files like the index compactors: data files
    only, skipping `_`/`.` trees (an aborted job's `_temporary`) as
    Spark's listing does.

    The full-store read keeps the schema in the file footers: the
    rewrite carries every column, and a declared schema would silently
    drop any column it does not list."""
    recover_swap(spark, path)
    before = count_parquet_files(spark, path)
    tmp_path = path + TMP_SUFFIX
    (
        spark.read.parquet(path)
        .hint("rebalance", "exp_date", "issuer_id")
        .write.partitionBy("exp_date", "issuer_id")
        .mode("overwrite")
        .parquet(tmp_path)
    )
    swap_into_place(spark, tmp_path, path)
    return before, count_parquet_files(spark, path)
