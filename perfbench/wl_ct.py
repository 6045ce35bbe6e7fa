"""The two CT workloads: `ct_fetch` (the write path of `cli fetch
--append`) and `ct_query` (the read path of `cli getcert`-style point
lookups and `cli statistics --store`)."""

from __future__ import annotations

import os
import statistics

import numpy as np

from perfbench.gen import N_BUCKETS, NOW, CertStream

BASE_ROWS = 10000  # rows of the input the base store is written from
FETCH_BASE_BUCKETS = 3  # expiry buckets of the ct_fetch base: 36 partitions
# expiry buckets of the ct_query base: 480 partitions, 41 expiry directories
# with the appends, past the 32 paths above which Spark lists a store with a
# job, as a real store with months of expiries is
QUERY_BASE_BUCKETS = N_BUCKETS
BATCH_ROWS = 500  # rows per fetch batch (before dedup)
COMPACT_EVERY = 2  # fetch batches between compactions
QUERY_APPENDS = 2  # uncompacted appends on the query store
LOOKUPS_PER_REPORT = 5  # point lookups per statistics report
MISS_SHARE = 0.1
WARMUP_LOOKUPS = 4


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under path."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def write_base_store(b, base_input: str, store: str) -> None:
    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store

    write_store(ingest_batch(b.spark.read.parquet(base_input), now=NOW), store)


def stored_keys(b, store: str) -> list[tuple[str, str, str]]:
    from pyspark.sql import functions as F

    rows = (
        b.spark.read.parquet(store)
        .select("exp_date", "issuer_id", F.lower(F.hex("serial")).alias("s"))
        .collect()
    )
    return [(r.exp_date, r.issuer_id, r.s) for r in rows]


class CtFetch:
    """Seeded certificate batches through the calls `cli fetch --append`
    makes, with a compaction every COMPACT_EVERY batches."""

    def generate(self, b) -> None:
        self.stream = CertStream(b.seed)
        self.base = b.path("base.parquet")
        self.stream.history(BASE_ROWS, self.base, FETCH_BASE_BUCKETS)
        self.appended = self.compacted = None

    def setup(self, b, state_dir: str) -> None:
        from ct_mapreduce_spark.operators.statistics import recompute_leaf_counts

        self.store = os.path.join(state_dir, "store")
        self.leaf = self.store + "_leaf_counts"
        write_base_store(b, self.base, self.store)
        recompute_leaf_counts(b.spark, self.leaf, b.spark.read.parquet(self.store))

    def warmup(self, b) -> None:
        # one loop cycle: walls keep falling over the first operations of
        # a fresh JVM
        self.step(b)
        self.appended = self.compacted = None

    def _fetch(self, b, batch: str, want: int) -> bool:
        from ct_mapreduce_spark.operators.statistics import update_leaf_counts
        from ct_mapreduce_spark.plans.ingest import ingest_batch
        from ct_mapreduce_spark.sources.sinks import append_new_to_store

        with b.span("sources.read_parquet"):
            certs = b.spark.read.parquet(batch)
        with b.span("plans.ingest.ingest_batch"):
            deduped = ingest_batch(certs, now=NOW)
        with b.span("sources.sinks.append_new_to_store"):
            n, fresh = append_new_to_store(deduped, self.store)
        with b.span("operators.statistics.update_leaf_counts"):
            update_leaf_counts(b.spark, self.leaf, fresh)
        return n == want

    def _compact(self, b) -> bool:
        from ct_mapreduce_spark.sources.sinks import compact_store

        if self.appended is None:
            # the store as the appends leave it, and below as the loop's
            # first compaction leaves it: always after the same batches,
            # so neither depends on how many batches the run got through
            self.appended = tree_size(self.store)
        with b.span("sources.sinks.compact_store"):
            before, after = compact_store(b.spark, self.store)
        if self.compacted is None:
            self.compacted = (tree_size(self.store), tree_size(self.leaf), len(self.stream.stored))
        return 0 < after <= before

    def _batch(self, b) -> None:
        batch = b.path(f"batch{self.stream.n_batches}.parquet")
        want = self.stream.batch(BATCH_ROWS, batch)
        b.op("fetch", lambda: self._fetch(b, batch, want))

    def step(self, b) -> None:
        """One cycle: COMPACT_EVERY batches, then a compaction."""
        for _ in range(COMPACT_EVERY):
            self._batch(b)
        b.op("compact", lambda: self._compact(b))

    def finish(self, b) -> dict:
        from pyspark.sql import functions as F

        truth = set(self.stream.stored)
        got = stored_keys(b, self.store)
        b.check("store rows are the distinct expected keys", len(got) == len(set(got)) == len(truth))
        leaf = b.spark.read.parquet(self.leaf).agg(
            F.sum("n_serials").alias("s"), F.sum("n_rows").alias("r")
        ).first()
        b.check("leaf counts sum to the store rows", leaf.s == leaf.r == len(got))
        (files, size), (_, leaf_size), n_stored = self.compacted
        self.layers = {
            "store.appended.files": self.appended[0],
            "store.appended.bytes": self.appended[1],
            "store.files": files,
            "store.bytes": size,
        }
        fetch = statistics.median(b.lat["fetch"])
        compact = statistics.median(b.lat["compact"])
        return {
            "op_p50_ms": fetch,
            "side_p50_ms": compact,
            # input certs per second at the loop's mix of one compaction
            # per COMPACT_EVERY batches, from the two medians
            "items_per_s": BATCH_ROWS / (fetch + compact / COMPACT_EVERY) * 1e3,
            "bytes_per_item": (size + leaf_size) / n_stored,
            "answer_recall": len(truth & set(got)) / len(truth),
        }


class CtQuery:
    """Point lookups on a fresh read of a store left as the fetch daemon
    leaves it between compactions, with a statistics report after every
    LOOKUPS_PER_REPORT lookups."""

    def generate(self, b) -> None:
        self.stream = CertStream(b.seed)
        self.base = b.path("base.parquet")
        self.stream.history(BASE_ROWS, self.base, QUERY_BASE_BUCKETS)
        self.appends = []
        for i in range(QUERY_APPENDS):
            p = b.path(f"append{i}.parquet")
            self.stream.batch(BATCH_ROWS, p)
            self.appends.append(p)
        self.keys = sorted(self.stream.stored)
        self.rng = np.random.default_rng([b.seed, 7101])
        self.n_ops = 0
        self.n_right = 0

    def setup(self, b, state_dir: str) -> None:
        from ct_mapreduce_spark.plans.ingest import ingest_batch
        from ct_mapreduce_spark.sources.sinks import append_new_to_store

        self.store = os.path.join(state_dir, "store")
        write_base_store(b, self.base, self.store)
        for p in self.appends:
            append_new_to_store(
                ingest_batch(b.spark.read.parquet(p), now=NOW), self.store
            )

    def warmup(self, b) -> None:
        # lookup and report walls keep falling over the first few
        # operations of a fresh JVM
        for i in range(WARMUP_LOOKUPS):
            self._lookup(b, self.keys[i], True)
        self._lookup(b, self.stream.miss_key(), False)
        self._stats(b)

    def _lookup(self, b, key: tuple[str, str, str], hit: bool) -> bool:
        from ct_mapreduce_spark.plans.point_lookup import get_cert

        exp, issuer, serial = key
        with b.span("sources.read_store"):
            store = b.spark.read.parquet(self.store)
        with b.span("plans.point_lookup.get_cert"):
            rows = get_cert(store, exp, issuer, serial).collect()
        if not hit:
            return not rows
        return len(rows) == 1 and rows[0].serial.hex() == serial

    def _stats(self, b) -> bool:
        from ct_mapreduce_spark.operators.metadata import issuer_metadata
        from ct_mapreduce_spark.operators.statistics import full_report, stats_rollup

        with b.span("sources.read_store"):
            store = b.spark.read.parquet(self.store)
        with b.span("operators.statistics.stats_rollup"):
            rollup = stats_rollup(store).collect()
        with b.span("operators.statistics.full_report"):
            report = full_report(store, issuer_metadata(store)).collect()
        n = len(self.keys)
        total = [r for r in rollup if r.g_issuer == 1 and r.g_exp == 1]
        return (
            len(total) == 1
            and total[0].n_serials == total[0].n_rows == n
            and sum(r.n_serials for r in report) == n
        )

    def step(self, b) -> None:
        """One cycle: LOOKUPS_PER_REPORT lookups, then a report."""
        for _ in range(LOOKUPS_PER_REPORT):
            hit = self.rng.random() >= MISS_SHARE
            key = (
                self.keys[int(self.rng.integers(0, len(self.keys)))]
                if hit
                else self.stream.miss_key()
            )
            self.n_right += b.op("lookup", lambda: self._lookup(b, key, hit))
        self.n_right += b.op("stats", lambda: self._stats(b))
        self.n_ops += LOOKUPS_PER_REPORT + 1

    def finish(self, b) -> dict:
        files, size = tree_size(self.store)
        self.layers = {"store.files": files, "store.bytes": size}
        lookup = statistics.median(b.lat["lookup"])
        stats = statistics.median(b.lat["stats"])
        return {
            "op_p50_ms": lookup,
            "side_p50_ms": stats,
            # lookups per second at the loop's mix of LOOKUPS_PER_REPORT
            # lookups per report, from the two medians
            "items_per_s": LOOKUPS_PER_REPORT / (LOOKUPS_PER_REPORT * lookup + stats) * 1e3,
            "bytes_per_item": size / len(self.keys),
            "answer_recall": self.n_right / self.n_ops,
        }
