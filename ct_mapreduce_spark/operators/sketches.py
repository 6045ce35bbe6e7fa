"""Mergeable distinct-count sketches (HyperLogLog, Datasketches-backed).

The reference answers "how many distinct serials per (issuer, expDate)"
with exact Redis SCARD (knowncertificates.go:57-63) and sums those leaf
counts upward (storage-statistics.go:44-53) — correct only because each
serial lives in exactly one leaf set. For overlapping rollups (distinct
users per day -> per month; distinct serials per issuer across buckets)
exact counts don't add. The 100 TB pattern is: sketch ONCE per leaf
group over the raw data, then every higher rollup level is a cheap
register-wise union of sketches — no second scan, no exact-distinct
shuffle of raw keys, and partial aggregation keeps the shuffle payload
at sketch size (2^lg_k bytes) instead of key-set size.

All sketch math is Spark-native (hll_sketch_agg / hll_union_agg /
hll_sketch_estimate — JVM Datasketches, codegen-friendly); estimates are
deterministic for a given input set (register max is order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_group_sketches(
    df: DataFrame, keys: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """One HLL sketch per key group over value_col, plus its estimate.

    One shuffle keyed by `keys`; map-side partial sketches merge before
    the exchange, so shuffle bytes are O(groups x 2^lg_k), independent of
    row count."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(value_col, F.lit(lg_k))
        ).cast("long").alias("est_distinct"),
    )


def hll_rollup(
    sketches: DataFrame, rollup_keys: list[str], sketch_col: str = "hll"
) -> DataFrame:
    """Union leaf sketches up to `rollup_keys` WITHOUT touching raw data
    — the sketch-algebra restatement of storage-statistics' per-issuer
    sums, correct even when leaf member sets overlap."""
    return sketches.groupBy(*rollup_keys).agg(
        F.hll_union_agg(sketch_col).alias("hll"),
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col))
        .cast("long")
        .alias("est_distinct"),
    )


def _cms_col(key, row_i: int, seed: int, width: int):
    """Row-i column index for a key: the first 8 hex chars of
    md5(key + '#i#seed') as an integer, mod width. md5 (not xxhash64)
    by design — DuckDB can recompute it, so count-min queries get FULL
    oracles instead of pins. 32 bits of hash, always non-negative, so
    the mod is engine-agnostic."""
    h = F.md5(F.concat(key, F.lit(f"#{row_i}#{seed}")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % int(width)
    ).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over a key
    stream: a (depth x width) table of cell counts, the frequency
    counterpart of the HLL tier above. Cell updates are pure addition,
    so the sketch is ORDER-INDEPENDENT (deterministic across partition
    counts — unlike Misra-Gries, whose summaries depend on arrival
    order) and MERGEABLE: union two corpora or a stream's micro-batches
    by cell-wise addition, exactly like hll_rollup's register union.

    Plan: one projection fans each key into its depth (row, col) cells,
    then ONE map-side-combined groupBy — the shuffle and the result are
    both (depth x width) model-sized, independent of row count.
    Estimates overcount only (min over rows bounds the error by
    N * e / width with the usual CMS guarantee).

    Returns (row_i, col, n)."""
    k = F.col(key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row_i"),
                _cms_col(k, i, seed, width).alias("col"),
            )
            for i in range(int(depth))
        ]
    )
    return (
        df.select(F.explode(cells).alias("e"))
        .select("e.row_i", "e.col")
        .groupBy("row_i", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Point-frequency estimates for `keys` under a built sketch:
    min over the depth rows of each key's cell counts (cells the key
    never hit count 0). The sketch is model-sized, so it broadcasts;
    the keys side never shuffles for the lookup. Parameters must match
    the build. Returns keys' rows plus n_cms."""
    k = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("row_i"),
                        _cms_col(k, i, seed, width).alias("col"),
                    )
                    for i in range(int(depth))
                ]
            )
        ).alias("e"),
    ).select(key_col, "e.row_i", "e.col")
    return (
        probes.join(F.broadcast(cms), ["row_i", "col"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce("n", F.lit(0))).cast("long").alias("n_cms")
        )
    )
