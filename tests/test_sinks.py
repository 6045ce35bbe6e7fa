"""Sink-contract tests (SURVEY §5 item b): log-state blank-on-missing +
upsert (S6/J3), noop sink (S12)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from ct_mapreduce_spark.schemas import LOG_STATES
from ct_mapreduce_spark.sources.sinks import (
    read_log_states,
    upsert_log_state,
    write_log_states,
    write_noop,
)


def test_log_state_blank_on_missing(spark, tmp_path):
    # storagebackend_tests.go:103-169: missing state reads as empty
    out = read_log_states(spark, str(tmp_path / "nope"))
    assert out.count() == 0
    assert out.schema == LOG_STATES


def test_log_state_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "states")
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    first = spark.createDataFrame(
        [
            Row(url="log.example.com/2525", max_entry=9, last_entry_time=t0, last_update_time=t0),
            Row(url="other.example/x", max_entry=0xDEADBEEF, last_entry_time=None, last_update_time=t0),
        ],
        LOG_STATES,
    )
    write_log_states(upsert_log_state(spark, path, first), path)
    t1 = dt.datetime(2024, 1, 2, 12, 0)
    update = spark.createDataFrame(
        [Row(url="log.example.com/2525", max_entry=2525, last_entry_time=t1, last_update_time=t1)],
        LOG_STATES,
    )
    merged = upsert_log_state(spark, path, update)
    got = {r.url: r.max_entry for r in merged.collect()}
    # updated row wins; untouched row survives (read-through semantics,
    # filesystemdatabase.go:110-139)
    assert got == {"log.example.com/2525": 2525, "other.example/x": 0xDEADBEEF}
    # Write the merged frame back to the SAME path it was read from — the
    # read-modify-write cycle the production ingest loop performs — and
    # assert FULL table equality (not a superset), so a dropped row from
    # the overwrite-while-reading hazard would fail loudly.
    write_log_states(merged, path)
    after = {r.url: r.max_entry for r in read_log_states(spark, path).collect()}
    assert after == {"log.example.com/2525": 2525, "other.example/x": 0xDEADBEEF}
    # include MaxInt64 edge (storagebackend_tests.go fixtures)
    big = spark.createDataFrame(
        [Row(url="big", max_entry=(1 << 63) - 1, last_entry_time=None, last_update_time=None)],
        LOG_STATES,
    )
    write_log_states(upsert_log_state(spark, path, big), path)
    after2 = {r.url: r.max_entry for r in read_log_states(spark, path).collect()}
    assert after2 == {
        "log.example.com/2525": 2525,
        "other.example/x": 0xDEADBEEF,
        "big": (1 << 63) - 1,
    }


def test_noop_sink_executes(spark):
    df = spark.range(1000).selectExpr("id", "id * 2 AS x")
    write_noop(df)  # full execution, no output — just must not raise


def test_append_new_to_store_cross_run_dedup(spark, tmp_path):
    """WasUnknown across RUNS: re-ingesting overlapping batches appends
    only never-seen keys; a full replay appends nothing."""
    import datetime as dt

    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store
    from ct_mapreduce_spark.sources.certificates import synthetic_certificates
    from ct_mapreduce_spark.sources.sinks import append_new_to_store

    now = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    certs = synthetic_certificates(spark, n=600, seed=5)
    b1 = ingest_batch(certs.where("entry_id < 400"), now=now)
    b2 = ingest_batch(certs.where("entry_id >= 200"), now=now)  # overlaps b1
    path = str(tmp_path / "store")
    write_store(b1, path)
    n1 = spark.read.parquet(path).count()

    appended, _ = append_new_to_store(b2, path)
    total = spark.read.parquet(path).count()
    assert appended > 0
    assert total == n1 + appended
    # the store's keys are exactly the union of both batches' keys
    keys = spark.read.parquet(path).select("exp_date", "issuer_id", "serial")
    want = (
        b1.select("exp_date", "issuer_id", "serial")
        .unionByName(b2.select("exp_date", "issuer_id", "serial"))
        .distinct()
    )
    assert keys.distinct().count() == keys.count() == want.count()
    # idempotent replay
    assert append_new_to_store(b2, path)[0] == 0
    assert spark.read.parquet(path).count() == total


def test_compact_store_reduces_files_keeps_data(spark, tmp_path):
    import datetime as dt

    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store
    from ct_mapreduce_spark.sources.certificates import synthetic_certificates
    from ct_mapreduce_spark.sources.sinks import append_new_to_store, compact_store

    now = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    certs = synthetic_certificates(spark, n=900, seed=6)
    path = str(tmp_path / "store")
    # fragment the store: one append per slice
    write_store(ingest_batch(certs.where("entry_id < 300"), now=now), path)
    for lo, hi in [(300, 600), (600, 900)]:
        append_new_to_store(
            ingest_batch(certs.where(f"entry_id >= {lo} AND entry_id < {hi}"), now=now),
            path,
        )
    before_rows = spark.read.parquet(path).count()
    before_sum = spark.read.parquet(path).selectExpr("sum(entry_id)").first()[0]

    n_before, n_after = compact_store(spark, path)
    assert n_after < n_before, (n_before, n_after)
    assert spark.read.parquet(path).count() == before_rows
    assert spark.read.parquet(path).selectExpr("sum(entry_id)").first()[0] == before_sum


def test_compact_store_counts_only_data_files(spark, tmp_path):
    """compact_store counts the files Spark reads as the store: a stray
    file under an aborted job's `_temporary` tree is not a data file
    (Spark's listing skips `_` trees, as the index compactors' count
    does). Three writes into three partitions leave 9 data files;
    compaction leaves one per partition."""
    import os
    import shutil

    from ct_mapreduce_spark.plans.ingest import write_store
    from ct_mapreduce_spark.sources.sinks import append_new_to_store, compact_store

    parts = [("2030-01-01-00", "iss-a"), ("2030-01-01-00", "iss-b"), ("2030-01-02-00", "iss-a")]

    def rows(serials):  # one row per serial in each of the three partitions
        return spark.createDataFrame(
            [
                (exp, iss, bytes([k, s]), 16 * k + s)
                for k, (exp, iss) in enumerate(parts)
                for s in serials
            ],
            "exp_date string, issuer_id string, serial binary, entry_id long",
        )

    path = str(tmp_path / "store")
    write_store(rows([1, 2]), path)
    append_new_to_store(rows([3, 4]), path)
    append_new_to_store(rows([5, 6]), path)
    data = [
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]
    assert len(data) == 9
    stray = os.path.join(path, "_temporary", "0")
    os.makedirs(stray)
    shutil.copy(data[0], os.path.join(stray, "part-stray.parquet"))

    assert compact_store(spark, path) == (9, 3)
    assert spark.read.parquet(path).count() == 18


def test_ct_tables_match_declared_schemas(spark, tmp_path):
    """The CT tables the engine reads back with a declared schema are
    written with exactly that schema: the store's key columns (STORE_KEYS,
    read by append_new_to_store's gate) after write_store and after an
    append, and the leaf-count table (LEAF_COUNTS, read by
    update_leaf_counts) from recompute_leaf_counts and from both
    update_leaf_counts paths (new table, merge). A writer that renames or
    retypes a column fails here instead of the declared read silently
    reading NULLs or casting."""
    import datetime as dt

    from ct_mapreduce_spark.operators.statistics import (
        recompute_leaf_counts,
        update_leaf_counts,
    )
    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store
    from ct_mapreduce_spark.schemas import LEAF_COUNTS, STORE_KEYS
    from ct_mapreduce_spark.sources.certificates import synthetic_certificates
    from ct_mapreduce_spark.sources.sinks import append_new_to_store

    def inferred(p, cols=None):
        df = spark.read.parquet(p)
        return (df.select(*cols) if cols else df).schema

    now = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    certs = synthetic_certificates(spark, n=400, seed=8)
    b1 = ingest_batch(certs.where("entry_id < 300"), now=now)
    store = str(tmp_path / "store")
    write_store(b1, store)
    assert inferred(store, STORE_KEYS.fieldNames()) == STORE_KEYS
    n, fresh = append_new_to_store(
        ingest_batch(certs.where("entry_id >= 200"), now=now), store
    )
    assert n > 0
    assert inferred(store, STORE_KEYS.fieldNames()) == STORE_KEYS

    full = str(tmp_path / "leaf_full")
    assert recompute_leaf_counts(spark, full, spark.read.parquet(store)).schema == LEAF_COUNTS
    assert inferred(full) == LEAF_COUNTS
    inc = str(tmp_path / "leaf_inc")
    for batch in (b1, fresh):  # new table, then a merge into it
        assert update_leaf_counts(spark, inc, batch).schema == LEAF_COUNTS
        assert inferred(inc) == LEAF_COUNTS


def test_append_cycle_job_count(spark, tmp_path, action_jobs):
    """Pins the driver-submitted jobs (see the action_jobs fixture) of
    one `fetch --append` cycle on an existing store and leaf table:
    append_new_to_store then update_leaf_counts. The three reads of
    tables the engine wrote itself (the gate's key columns, the current
    leaf table, the leaf table returned) take declared schemas, so none
    submits a job to infer a schema from a footer; one that goes back to
    inference adds a job here. The one job left lists the store's
    partition directories, which are more than Spark's 32-path threshold
    for listing with a job."""
    import datetime as dt

    from ct_mapreduce_spark.operators.statistics import (
        recompute_leaf_counts,
        update_leaf_counts,
    )
    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store
    from ct_mapreduce_spark.sources.certificates import synthetic_certificates
    from ct_mapreduce_spark.sources.sinks import append_new_to_store

    now = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    certs = synthetic_certificates(spark, n=400, seed=9)
    store = str(tmp_path / "store")
    leaf = store + "_leaf_counts"
    write_store(ingest_batch(certs.where("entry_id < 300"), now=now), store)
    recompute_leaf_counts(spark, leaf, spark.read.parquet(store))
    batch = ingest_batch(certs.where("entry_id >= 200"), now=now)

    def cycle():
        n, fresh = append_new_to_store(batch, store)
        update_leaf_counts(spark, leaf, fresh)
        return n

    n, jobs, _ = action_jobs("append-cycle", cycle)
    assert n > 0
    assert len(jobs) == 1


def test_corrupt_store_read_propagates(spark, tmp_path):
    """A failed read of an EXISTING store must raise, never silently
    disable the cross-run dedup gate (which would append duplicate keys
    — a silent first-seen violation). Only a genuinely missing path means
    'first run'."""
    import pytest

    from ct_mapreduce_spark.sources.sinks import append_new_to_store

    path = tmp_path / "store"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"this is not parquet")
    df = spark.range(3).selectExpr(
        "cast(id as string) AS exp_date",
        "'iss' AS issuer_id",
        "encode(cast(id as string), 'utf-8') AS serial",
    )
    with pytest.raises(Exception):
        append_new_to_store(df, str(path))


def test_swap_recovery_all_crash_points(spark, tmp_path):
    """Rename-aside swap: every crash point leaves leftovers recover_swap
    can finish or roll back — the destination table is never lost and
    never mistaken for a first run."""
    from ct_mapreduce_spark.fsutil import (
        OLD_SUFFIX,
        TMP_SUFFIX,
        recover_swap,
    )

    def fresh_table(path, val):
        spark.createDataFrame([Row(x=val)]).write.mode("overwrite").parquet(path)

    def read_val(path):
        return spark.read.parquet(path).first().x

    import shutil

    # crash between the two renames: dst absent, old=v1, tmp=v2 (complete)
    p = str(tmp_path / "t1")
    fresh_table(p + OLD_SUFFIX, 1)
    fresh_table(p + TMP_SUFFIX, 2)
    recover_swap(spark, p)
    assert read_val(p) == 2  # swap completed forward
    import os

    assert not os.path.exists(p + OLD_SUFFIX) and not os.path.exists(p + TMP_SUFFIX)

    # crash after tmp->dst, before old cleanup: dst=v2, old=v1
    p = str(tmp_path / "t2")
    fresh_table(p, 2)
    fresh_table(p + OLD_SUFFIX, 1)
    recover_swap(spark, p)
    assert read_val(p) == 2  # current table kept, leftover cleaned
    assert not os.path.exists(p + OLD_SUFFIX)

    # crash during tmp write: dst=v1 intact, tmp partial garbage
    p = str(tmp_path / "t3")
    fresh_table(p, 1)
    os.makedirs(p + TMP_SUFFIX)
    with open(p + TMP_SUFFIX + "/part-0.parquet", "wb") as f:
        f.write(b"partial")
    recover_swap(spark, p)
    assert read_val(p) == 1  # untouched; stray tmp removed
    assert not os.path.exists(p + TMP_SUFFIX)

    # defensive: old only (double-fault) -> rolled back
    p = str(tmp_path / "t4")
    fresh_table(p + OLD_SUFFIX, 1)
    recover_swap(spark, p)
    assert read_val(p) == 1
    shutil.rmtree(p)  # tidy


def test_log_state_write_survives_interrupted_swap(spark, tmp_path):
    """End-to-end: a leftover from an interrupted earlier swap does not
    break the next write, and the table is continuously readable."""
    import datetime as dt
    import os

    path = str(tmp_path / "states")
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    first = spark.createDataFrame(
        [Row(url="a", max_entry=1, last_entry_time=t0, last_update_time=t0)],
        LOG_STATES,
    )
    write_log_states(first, path)
    # simulate a crash that left an __old__ dir behind
    os.rename(path, path + "__old__")
    assert read_log_states(spark, path).count() == 1  # recovered
    second = spark.createDataFrame(
        [Row(url="b", max_entry=2, last_entry_time=t0, last_update_time=t0)],
        LOG_STATES,
    )
    write_log_states(upsert_log_state(spark, path, second), path)
    assert {r.url for r in read_log_states(spark, path).collect()} == {"a", "b"}
