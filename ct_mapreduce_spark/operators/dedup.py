"""First-seen deduplication — the reference's signature operation.

Reference semantics: `KnownCertificates.WasUnknown` does a Redis
`SADD serials::<expDate>::<issuer> <serial>` and only the first arrival of a
(expDate, issuer, serial) triple proceeds to storage + metadata accumulation
(storage/knowncertificates.go:36-55, storage/filesystemdatabase.go:177-202).
Under the reference's thread pool the winner is arrival-order —
nondeterministic. We define winner = min(entry_id) (SURVEY §2.6 W1) so
results are stable and testable.

Scale notes (100 TB): the winner-pick is a single hash-shuffle on the dedup
key. We use min_by aggregation rather than a row_number window: an
aggregate gets map-side partial combine (each input partition first reduces
locally), so the shuffle carries one row per key per input partition instead
of every duplicate row. Issuer skew (one issuer dominating) is handled by
AQE skew handling plus the exp_date component of the key spreading the hot
issuer across buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_KEY = ("exp_date", "issuer_id", "serial")


def first_seen(
    df: DataFrame,
    keys: Sequence[str] = DEFAULT_KEY,
    order_col: str = "entry_id",
) -> DataFrame:
    """Keep exactly the first-seen row per key, winner = min(order_col).

    Deterministic replacement for `dropDuplicates(keys)` (which keeps an
    arbitrary row, like the reference's arrival-order behavior).
    """
    keys = list(keys)
    payload = [c for c in df.columns if c not in keys]
    agg = [F.min_by(F.struct(*payload), F.col(order_col)).alias("_row")]
    out = df.groupBy(*keys).agg(*agg)
    return out.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in payload])


def was_unknown_flags(
    df: DataFrame,
    keys: Sequence[str] = DEFAULT_KEY,
    order_col: str = "entry_id",
) -> DataFrame:
    """All rows annotated with `was_unknown` — True on the first-seen row.

    The relational rendering of WasUnknown's boolean return
    (knowncertificates.go:36-55): downstream effects are gated on it.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col))
    return df.withColumn(
        "was_unknown", F.row_number().over(w) == F.lit(1)
    )
