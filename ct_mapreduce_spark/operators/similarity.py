"""Similarity search over embedding columns (north-star surface).

- cosine_topk:      exact brute-force top-k. Baseline and verification
                    tier. Query side broadcast; per-row dot products stay
                    in codegen (zip_with + aggregate); top-k per query via
                    window rank on the joined result.
- lsh_ann_topk:     random-hyperplane (sign) LSH: candidates from matching
                    hash buckets (multi-probe via bands), exact re-rank of
                    candidates only. The 100 TB tier: corpus side is hashed
                    once (narrow), the join hits buckets, not the corpus.
- ivf_topk:         IVF-flat: deterministic seeded centroid sample, assign
                    each vector to nearest centroid (broadcast centroids),
                    probe the query's nearest n_probe cells only.

All cosine math in double; inputs are float32, so operands are identical
across engines and the single-pass accumulation order is fixed
(F.aggregate folds left-to-right).
"""

from __future__ import annotations

import math
import random
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ct_mapreduce_spark.operators.util import (
    append_v1,
    fan_out,
    local_frame,
    run_parallel,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self).

    queries is expected to be small (it is broadcast); corpus is scanned
    once, no shuffle of the corpus side — the only shuffle is the final
    per-query top-k (k rows per query)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    # norms computed once per row/query instead of once per pair; operand
    # order matches cosine() (dot / (norm_q * norm_c)) => bit-identical
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def _sql_double_array(vals) -> str | None:
    """`array(<double literals>)` SQL fragment, or None when a value is
    not finite (SQL double literals cannot spell inf/nan).

    Model-sized literal trees (codebooks, centroids, hyperplanes, ADC
    LUTs) built Column-by-Column cost one py4j round-trip PER CALL —
    measured 2-5 s of pure driver time per model embed (r14). Rendering
    the same literals as one SQL string and parsing it with F.expr is a
    single round-trip (~ms) and bit-identical: Python's repr round-trips
    every finite double and Catalyst parses it back with
    Double.parseDouble."""
    parts = []
    for x in vals:
        x = float(x)
        if not math.isfinite(x):
            return None
        parts.append(repr(x) + "D")
    return "array(%s)" % ", ".join(parts)


def signature_bits_udf(planes: list[list[float]]):
    """Vectorized sign bits: one (batch x dim) @ (dim x n_bits) numpy
    matmul per Arrow batch — ~n_bits x faster than an interpreted
    per-plane fold of higher-order SQL functions on corpus-sized inputs.
    Sign of an identical float64 dot product is engine-deterministic;
    per-row CPU-dense work is the sanctioned vectorized-Python case."""
    pm = np.asarray(planes, dtype=np.float64).T  # (dim, n_bits)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _bits(vecs: pd.Series) -> pd.Series:
        m = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
        )
        signs = (m @ pm >= 0).astype(np.int32)
        return pd.Series(list(signs))

    return _bits


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH banded into `bands`
    buckets-per-vector; candidates = share >=1 band bucket; exact cosine
    re-rank of candidates only."""
    planes = _hyperplanes(dim, n_bits, seed)
    r = n_bits // bands

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        # carries the vector norm (projected once per row) so the
        # candidate re-rank pays one dot fold, not dot + two norm folds
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}_vec"),
                _norm(F.col(vec_col)).alias(f"{prefix}_norm"),
                signature_bits_udf(planes)(F.col(vec_col)).alias("_bits"),
            )
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_norm",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(bands - 1)),
                        lambda i: F.struct(
                            i.alias("band"),
                            F.array_join(
                                F.slice(F.col("_bits"), i * r + 1, r), ""
                            ).alias("bucket"),
                        ),
                    )
                ).alias("bb"),
            )
            .select(
                f"{prefix}_id", f"{prefix}_vec", f"{prefix}_norm",
                "bb.band", "bb.bucket",
            )
        )
    cb = banded(corpus, "neighbor")
    qb = banded(queries, "query")
    cand = (
        cb.join(
            F.broadcast(qb),
            (cb.band == qb.band)
            & (cb.bucket == qb.bucket)
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id", "neighbor_id", "query_vec", "neighbor_vec",
            "query_norm", "neighbor_norm",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # same operand order as cosine() => bit-identical values
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("query_vec"), F.col("neighbor_vec"))
            / (F.col("query_norm") * F.col("neighbor_norm")),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Per-label centroid (mean pooling) of an embedding column, emitted
    long-form as (label, pos, centroid_val) — class prototypes for
    nearest-centroid search / IVF seeding.

    Float sums are order-sensitive, and Spark's partial-aggregation
    order varies run to run — a plain avg() would not even be
    self-reproducible. The default path stages each value onto a fixed
    1e-9 grid: float32 -> double is exact, the double product and floor
    are IEEE-deterministic on every engine, and the staged integers sum
    in DECIMAL(38,0) — integer addition is associative, so the result
    is independent of partial-aggregation order with O(1) aggregation
    state per (label, pos). A label with billions of members costs the
    same as one with ten; this is the 100 TB path.

    exact=True swaps in the bit-exact IEEE-double mean: each (label,
    dimension) folds its values in canonical order (sorted by vec_id,
    left fold from 0.0). That collects the group's values into one array
    first — only safe while every label's membership fits an executor
    (verification tier, not the scale default)."""
    ex = emb.select(
        label_col,
        id_col,
        F.posexplode(vec_col).alias("pos0", "val"),
    )
    grouped = ex.groupBy(label_col, (F.col("pos0") + 1).alias("pos"))
    if exact:
        vals = F.transform(
            F.array_sort(F.collect_list(F.struct(id_col, "val"))),
            lambda s: s["val"].cast("double"),
        )
        folded = F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v)
        return grouped.agg(
            F.round(folded / F.size(vals), 6).alias("centroid_val"),
        )
    staged = F.floor(F.col("val").cast("double") * F.lit(1e9)).cast(
        "decimal(38,0)"
    )
    return grouped.agg(
        F.round(
            (F.sum(staged).cast("double") / F.lit(1e9)) / F.count(F.lit(1)), 6
        ).alias("centroid_val"),
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.25,
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH blocking —
    the 100 TB tier behind the `emb_cosine_near_dup` exactness witness
    (which cross-joins a bounded slice). Candidates must share >= 1 band
    of sign bits; exact cosine runs on candidates only.

    Narrow bands (r = n_bits/bands = 2) bias toward recall: for cosine
    s, P[bit agree] = 1 - acos(s)/pi, so a pair at s=0.25 collides in
    >= 1 of 8 two-bit bands w.p. ~0.96. Pair fan-out stays bucket-local;
    the corpus is hashed once, never cross-joined.
    """
    planes = _hyperplanes(dim, n_bits, seed)
    r = n_bits // bands
    # Compact frame (one row per vector: id + vec + sign bits), materialized
    # so the Python-stage matmul runs once for both self-join sides —
    # localCheckpoint over persist() for the same ContextCleaner reasons as
    # minhash_lsh_pairs (dedup_fuzzy.py).
    sigs = (
        fan_out(corpus)
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("vnorm"),  # once per row, for re-rank
            signature_bits_udf(planes)(F.col(vec_col)).alias("_bits"),
        )
        .localCheckpoint(eager=True)
    )
    # Thin banded frame: (vid, band, bucket) ONLY. Carrying the embedding
    # through the bands-x explode and both self-join sides would multiply
    # shuffle bytes by ~2*bands; vectors are re-attached to the few
    # surviving candidate pairs at the end (minhash_lsh_pairs' shape).
    banded = sigs.select(
        "vid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.array_join(
                        F.slice(F.col("_bits"), i * r + 1, r), ""
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("vid", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # Candidates are sparse: these attach joins move little data, and AQE
    # broadcasts the sides when genuinely small.
    va = sigs.select(
        F.col("vid").alias("vec_a"),
        F.col("vec").alias("_va"),
        F.col("vnorm").alias("_na"),
    )
    vb = sigs.select(
        F.col("vid").alias("vec_b"),
        F.col("vec").alias("_vb"),
        F.col("vnorm").alias("_nb"),
    )
    # same operand order as cosine() => bit-identical values
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _ivf_centroid_frame(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """Deterministic 'centroid' pick: the n_cells corpus vectors with the
    lowest xxhash64(id) (cheap stand-in for k-means; same plan shape),
    numbered 0..n_cells-1 in hash order."""
    return (
        corpus.select(
            F.col(id_col).alias("cell_src"),
            F.col(vec_col).alias("centroid"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("h"),
        )
        .orderBy("h")
        .limit(n_cells)
        # constant partition key: the frame is <= n_cells rows post-limit,
        # so one window partition is the point. Spark 4.1 folds the
        # lit(0) spec away (EliminateWindowPartitions) and may warn "No
        # Partition Defined" — expected on this bounded frame; the lit
        # stays as a source-level intent marker only
        .withColumn(
            "cell",
            F.row_number().over(W.partitionBy(F.lit(0)).orderBy("h")) - 1,
        )
        .select("cell", "centroid")
    )


def _py_fold_norm(vec) -> float:
    """Driver-side replica of _norm's left fold (float32->double exact,
    sequential accumulation, IEEE sqrt) — bit-identical to the engine
    evaluating _norm on the same values, which the independent-oracle pin
    gate proves continuously."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _centroid_literal(cent_rows) -> Column:
    """Embed the collected centroid rows as a literal array of (cell,
    centroid, norm) structs — the broadcast-as-expression form the narrow
    assignment uses. The norm is precomputed driver-side (bit-identical
    fold) so the per-row-per-cell interpreted work is one dot product,
    not dot + two norm folds. Rendered as one SQL string
    (_sql_double_array): the Column-by-Column form cost 1.8-3.2 s of
    driver time per embed at the interpreted-tier shapes (r14)."""
    rows = sorted(cent_rows, key=lambda r: r["cell"])
    arrs = [_sql_double_array(r["centroid"]) for r in rows]
    norms = [_py_fold_norm(r["centroid"]) for r in rows]
    if all(a is not None for a in arrs) and all(
        math.isfinite(n) for n in norms
    ):
        entries = ", ".join(
            "named_struct('cell', %d, 'centroid', %s, 'norm', %s)"
            % (int(r["cell"]), arr, repr(float(n)) + "D")
            for r, arr, n in zip(rows, arrs, norms)
        )
        return F.expr("array(%s)" % entries)
    return F.array(
        *[
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias(
                    "centroid"
                ),
                F.lit(n).alias("norm"),
            )
            for r, n in zip(rows, norms)
        ]
    )


def ivf_refine_centroids(
    corpus: DataFrame,
    cent_rows,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    sample_seed: int = 43,
):
    """Lloyd's refinement of the seeded centroids: assign (narrow argmin,
    no shuffle) -> per-(cell, dimension) mean -> repeat. The mean uses
    label_centroids' decimal staging (floor(x * 1e9) summed in
    DECIMAL(38,0), round-6 output), so every iteration is independent of
    partial-aggregation order — the refined centroids are bit-stable and
    therefore pinnable. Per iteration: one narrow pass over the refine
    set + one map-side-combined shuffle of (cell, pos) keys with O(1)
    state; the driver handles only n_cells x dim tiny rows (the model
    parameters, not data). Cells that lose all members keep their
    previous centroid.

    sample_mod > 1 refines on the deterministic hash-sample
    pmod(xxhash64(id, sample_seed), sample_mod) == 0 — a 1/sample_mod
    slice that is stable across runs and engines (the oracle replays the
    same rule), so sampled refinement stays pinnable. Centroids are model
    parameters estimated from means; at 100 TB a ~1M-row sample estimates
    them as well as the full corpus, and each iteration costs 1/sample_mod
    of a pass. sample_mod=1 is the exact full-corpus tier."""
    dim = len(cent_rows[0]["centroid"])
    refine_src = corpus
    if sample_mod > 1:
        refine_src = corpus.where(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit(sample_seed)),
                F.lit(sample_mod),
            )
            == 0
        )
    for _ in range(n_iters):
        assigned = _assign_nearest(refine_src, cent_rows, id_col, vec_col, "m")
        staged = F.floor(F.col("val").cast("double") * F.lit(1e9)).cast(
            "decimal(38,0)"
        )
        agg = (
            assigned.select(
                "cell", F.posexplode(F.col("m_vec")).alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    (F.sum(staged).cast("double") / F.lit(1e9))
                    / F.count(F.lit(1)),
                    6,
                ).alias("cv")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in agg:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["cv"]
        cent_rows = [
            {
                "cell": r["cell"],
                "centroid": (
                    [by_cell[r["cell"]][i] for i in range(dim)]
                    if r["cell"] in by_cell
                    else [float(x) for x in r["centroid"]]
                ),
            }
            for r in cent_rows
        ]
    return cent_rows


def ivf_refine_centroids_distributed(
    corpus: DataFrame,
    cents: DataFrame,
    n_cells: int,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_mod: int = 1,
    sample_seed: int = 43,
) -> DataFrame:
    """Lloyd refinement with the centroid MODEL kept distributed — the
    above-_DRIVER_MODEL_CELL_BUDGET tier of ivf_refine_centroids (r12
    verdict task 1). The r12 measurement (tools/centroid_quality.py,
    BASELINE.md) showed refinement moves probed-cell coverage
    0.73 -> 0.95, yet it was structurally locked below the budget
    because the one-level refiner iterates a driver-side model — so
    exactly the stores big enough to need >4096 cells were stuck with
    the worst coarse quantizer. Lloyd's update step never actually
    needs a driver model:

    - ASSIGN: _two_level_assign (the budget tier's own transport —
      only the sqrt-sized coarse model reaches the driver; approximate
      in the same recall-gated sense as every over-budget assignment).
    - UPDATE: one map-side-combined groupBy((cell, pos)) mean over the
      exploded refine set, with the SAME decimal staging as the
      one-level refiner (floor(x*1e9) summed in DECIMAL(38,0), /1e9 /
      count, round 6) — partial-aggregation order cannot move the
      means, so the refined frame is engine- and partitioning-stable.
    - REBUILD: per-cell array_sort(collect_list(struct(pos, cv)))
      reassembles centroid arrays; cells that lose all members keep
      their previous centroid (the one-level rule), via a left join
      back to the incoming frame. The model round-trips executor-side
      only (localCheckpoint per iteration bounds lineage and makes the
      next iteration's coarse re-collect read a materialized frame).

    Per iteration cost: one narrow two-level assignment pass over the
    refine set + one (cell, pos)-key shuffle with O(1) state per key —
    the model-sized frames never hit the driver. sample_mod > 1 refines
    on the deterministic hash-sample slice (ivf_refine_centroids'
    rule): at 100 TB a ~1M-row sample estimates the means as well as
    the full corpus at 1/sample_mod of the pass cost.

    Returns the refined centroid frame (cell int, centroid
    array<double>) for the caller to assign against and persist as the
    store's model sidecar."""
    refine_src = corpus
    if sample_mod > 1:
        refine_src = corpus.where(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit(sample_seed)),
                F.lit(sample_mod),
            )
            == 0
        )
    # dtype-normalize up front so coalesce(new, prev) below is legal on
    # the first iteration too (stores hold float32 vectors; means are
    # double)
    cents = cents.select(
        "cell", F.col("centroid").cast("array<double>").alias("centroid")
    )
    staged = F.floor(F.col("val").cast("double") * F.lit(1e9)).cast(
        "decimal(38,0)"
    )
    for _ in range(n_iters):
        assigned = _two_level_assign(
            refine_src, cents, n_cells, id_col, vec_col, "m", seed=seed
        )
        new = (
            assigned.select(
                "cell", F.posexplode(F.col("m_vec")).alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    (F.sum(staged).cast("double") / F.lit(1e9))
                    / F.count(F.lit(1)),
                    6,
                ).alias("cv")
            )
            # struct sorts lexicographically and pos is unique per cell,
            # so array_sort reassembles dimensions in order
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "cv"))
                ).alias("_s")
            )
            .select(
                "cell",
                F.transform(F.col("_s"), lambda x: x["cv"]).alias("_new"),
            )
        )
        cents = (
            cents.join(new, "cell", "left")
            .select(
                "cell",
                F.coalesce(F.col("_new"), F.col("centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint()
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    refine_iters: int = 0,
    refine_sample_mod: int = 1,
) -> DataFrame:
    """IVF-flat ANN: centroids = deterministic hash-sampled corpus vectors
    (optionally Lloyd-refined via refine_iters — see
    ivf_refine_centroids; refine_sample_mod > 1 refines on a
    deterministic 1/mod hash-sample), vectors assigned to nearest
    centroid, queries probe their n_probe nearest cells.

    At scale, build the cell-partitioned index ONCE with ivf_build_index
    and serve queries from ivf_topk_indexed — same math, but the probe
    reads only the probed cells' files (partition pruning)."""
    cents = _ivf_centroid_frame(corpus, n_cells, id_col, vec_col, seed)
    if n_cells > _DRIVER_MODEL_CELL_BUDGET:
        # two-level tier (r10): the centroid model never reaches the
        # driver; corpus assignment and query probes both route through
        # the coarse quantizer. Lloyd refinement runs distributed here
        # (r13 — the update step is one groupBy((cell,pos)) mean pass,
        # no driver model needed; see ivf_refine_centroids_distributed).
        if refine_iters:
            cents = ivf_refine_centroids_distributed(
                corpus, cents, n_cells, refine_iters, id_col, vec_col,
                seed=seed, sample_mod=refine_sample_mod,
            )
        ca = _two_level_assign(
            corpus, cents, n_cells, id_col, vec_col, "neighbor", seed=seed
        )
        qa = _two_level_assign(
            queries, cents, n_cells, id_col, vec_col, "query",
            t=n_probe, seed=seed,
        )
        return _rank_cell_candidates(ca, qa, k)
    # The centroid table is n_cells rows by construction — embed it as a
    # literal array so the corpus-side nearest-cell assignment is a NARROW
    # projection (argmin via array_min over (dist, cell) structs: struct
    # comparison is lexicographic, so this is bit-identical to
    # orderBy(dist, cell) row_number()=1, including the tie-break), not a
    # corpus x n_cells crossJoin + full-corpus window shuffle. The
    # driver-side collect is n_cells rows (16), the same payload a
    # broadcast would ship.
    cent_rows = cents.collect()
    if refine_iters:
        cent_rows = ivf_refine_centroids(
            corpus, cent_rows, refine_iters, id_col, vec_col,
            sample_mod=refine_sample_mod,
        )
        cents = local_frame(
            corpus.sparkSession,
            [
                (c["cell"], [float(x) for x in c["centroid"]])
                for c in cent_rows
            ],
            "cell int, centroid array<double>",
        )
    ca = _assign_nearest(corpus, cent_rows, id_col, vec_col, "neighbor")
    qa = _assign_probes(
        queries, cents, id_col, vec_col, "query", n_probe, n_cells=n_cells
    )
    return _rank_cell_candidates(ca, qa, k)


# Interpreted-fold budget for nearest-cell assignment: below this
# n_cells x dim product the literal-argmin form (the bit-exact
# verification tier) wins — above it the per-row interpreted cost grows
# linearly with n_cells and the Arrow matmul tier takes over. r15
# re-measured the crossover after the r14 literal-rendering fix removed
# the driver cost (guide §4.2; sf0.1 embeddings, 2000 x 64d, min-of-2
# noop-sink): literal 0.55 / 1.18 / 5.09 / 11.80 s at 16 / 64 / 256 /
# 1024 cells vs Arrow 0.28 / 0.34 / 0.35 / 0.23 s — the GEMM is flat
# while the fold is linear, and it already wins at 16 x 64 = 1024. The
# budget drops 4096 -> 768 so every real corpus shape (>= 16 cells x
# 64 dims) rides the GEMM; micro fixtures (unit tests, few-cell toy
# models) stay on the literal tier. Pin safety: the tiers may disagree
# only on a last-ulp cosine tie (numpy pairwise vs sequential fold
# summation); all pinned similarity queries were re-verified
# bit-identical against the DuckDB/independent oracle at sf0.01, the pin
# SF, after the flip. sf0.001 is not a pin surface: the tree before the
# flip fails there identically — see OPTIMIZATION_r15.md.
# UNIT: cells x dims (a matrix-element count) — NOT the same unit as
# _DRIVER_MODEL_CELL_BUDGET (cells); tuning one must not move the other.
_ASSIGN_INTERPRETED_BUDGET = 768  # cells * dims


def _assign_nearest(
    df: DataFrame,
    cent_rows,
    id_col: str,
    vec_col: str,
    prefix: str,
    vectorize: bool | None = None,
) -> DataFrame:
    """Nearest-cell assignment, always narrow (no corpus shuffle).
    Dispatches between two equivalent tiers on n_cells x dim:

    - literal-argmin (small): array_min over (dist, cell) structs built
      from a literal centroid array — sequential double folds, bit-exact,
      the tier every golden pin is derived on.
    - Arrow matmul (large): one (batch x dim) @ (dim x n_cells) numpy
      matmul + argmin per batch — the signature_bits_udf pattern; O(1)
      interpreter overhead per row regardless of n_cells.

    Tie-break is identical by construction: the literal form's struct-min
    on (dist, cell) and np.argmax's first-max rule both pick the LOWEST
    cell id on exact distance ties. The two tiers may disagree on a pair
    of cells whose cosines differ only in the last ulp (numpy's pairwise
    summation vs the sequential fold) — which is why pins stay on the
    literal tier and the vectorized tier is gated by recall, not bits."""
    if vectorize is None:
        dim = len(cent_rows[0]["centroid"])
        vectorize = len(cent_rows) * dim > _ASSIGN_INTERPRETED_BUDGET
    if vectorize:
        return _assign_nearest_vectorized(df, cent_rows, id_col, vec_col, prefix)
    return _assign_nearest_literal(
        df, _centroid_literal(cent_rows), id_col, vec_col, prefix
    )


def _assign_nearest_vectorized(
    df: DataFrame, cent_rows, id_col: str, vec_col: str, prefix: str
) -> DataFrame:
    """Arrow tier of _assign_nearest: centroids ship to workers as a
    closure-captured (dim x n_cells) float64 matrix (same payload a
    broadcast would carry); each batch pays one matmul + argmax. The
    centroid side is pre-normalized so per-batch work is exactly one GEMM;
    dividing by the row norm (positive scalar per row) cannot change the
    argmax, so it is skipped for assignment and returned separately for
    the downstream re-rank."""
    rows = sorted(cent_rows, key=lambda r: r["cell"])
    cmat = np.asarray(
        [[float(x) for x in r["centroid"]] for r in rows], dtype=np.float64
    )
    cells = np.asarray([int(r["cell"]) for r in rows], dtype=np.int32)
    cmat_t = (cmat / np.linalg.norm(cmat, axis=1)[:, None]).T  # (dim, n_cells)

    @F.pandas_udf("struct<cell:int, vnorm:double>")
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        m = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
        )
        vnorm = np.sqrt((m * m).sum(axis=1))
        # argmax of cosine == argmax of dot with unit centroids; first-max
        # rule = lowest cell id on ties (cells are sorted ascending)
        best = cells[np.argmax(m @ cmat_t, axis=1)]
        return pd.DataFrame({"cell": best, "vnorm": vnorm})

    # asNondeterministic stops the optimizer duplicating the GEMM (guide
    # §4.4): a downstream equi-join on `cell` pushes an isnotnull(cell)
    # filter below the projection, and the plan then carried TWO stacked
    # ArrowEvalPython nodes evaluating _assign per corpus row (observed
    # r15, plans/r15/emb_ann_ivf_after.txt pre-fix). The function is
    # genuinely deterministic; the marker only constrains reordering.
    _assign = _assign.asNondeterministic()

    out = df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).alias(f"{prefix}_vec"),
        _assign(F.col(vec_col)).alias("_a"),
    )
    return out.select(
        f"{prefix}_id",
        f"{prefix}_vec",
        F.col("_a.vnorm").alias(f"{prefix}_norm"),
        F.col("_a.cell").alias("cell"),
    )


def _assign_nearest_literal(
    df: DataFrame, cent_lit: Column, id_col: str, vec_col: str, prefix: str
) -> DataFrame:
    """Narrow nearest-cell assignment (argmin over the literal centroid
    array; no shuffle — see ivf_topk). The row's norm is projected ONCE
    before the transform (a lambda-captured expression would re-evaluate
    per cell under the interpreted evaluator) and centroid norms ride as
    literals, so per-cell work is a single dot fold. dist keeps cosine's
    exact operand order dot / (norm_row * norm_centroid) — bit-identical
    to computing cosine() in full."""
    with_norm = df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).alias(f"{prefix}_vec"),
        _norm(F.col(vec_col)).alias("_vnorm"),
    )
    best = F.array_min(
        F.transform(
            cent_lit,
            lambda s: F.struct(
                (
                    -(
                        _dot(F.col(f"{prefix}_vec"), s["centroid"])
                        / (F.col("_vnorm") * s["norm"])
                    )
                ).alias("dist"),
                s["cell"].alias("cell"),
            ),
        )
    )
    return with_norm.select(
        f"{prefix}_id",
        f"{prefix}_vec",
        F.col("_vnorm").alias(f"{prefix}_norm"),
        best["cell"].alias("cell"),
    )


def _assign_probes(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str,
    n: int,
    n_cells: int | None = None,
) -> DataFrame:
    """Query-side n-nearest-cells (rank form; queries are few, so the
    window shuffle is trivially small). The crossJoin's interpreted
    cosine work is n_queries x n_cells x dim folds and the partial
    WindowGroupLimit runs on the QUERY frame's input partitioning — a
    large batch read from one file would do all of it in one task, so
    callers that know a big model pass `n_cells` and the batch is
    fan_out'd first (r13, found by the amortization rung's jstack: a
    10k-query x 4097-cell control spent minutes in one ZipWith.eval
    task). Thresholded at _PROBE_FANOUT_MIN_CELLS so the pinned
    16-cell serve plans keep their exchange-free probe (fan_out's
    repartition would be pure plan noise there); values are
    partitioning-independent either way."""
    if n_cells is not None and n_cells >= _PROBE_FANOUT_MIN_CELLS:
        from ct_mapreduce_spark.operators.util import fan_out

        df = fan_out(df)
    joined = df.crossJoin(F.broadcast(cents)).withColumn(
        "dist", -cosine(F.col(vec_col), F.col("centroid"))
    )
    w = W.partitionBy(id_col).orderBy("dist", "cell")
    return (
        joined.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n)
        .select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            _norm(F.col(vec_col)).alias(f"{prefix}_norm"),
            "cell",
        )
    )


# ---------------------------------------------------------------------------
# Two-level quantizer tier: bounded driver model at any n_cells (r10)
# ---------------------------------------------------------------------------

# Above this cell count the centroid model is NOT driver-collected or
# closure-shipped whole: assignment switches to the two-level tier, whose
# driver/task payload is the sqrt-sized coarse quantizer only. 4096 cells
# x 64 dims x 8 B = 2 MB — comfortably a literal/closure payload; every
# golden pin lives far below it, so pins never route to the new tier.
# UNIT: cells (centroid-model ROWS) — numerically equal to
# _ASSIGN_INTERPRETED_BUDGET (cells x dims) by coincidence only; the two
# gate different tiers and must be tuned independently.
_DRIVER_MODEL_CELL_BUDGET = 4096  # cells

# Below this cell count a probe crossJoin's per-query-row interpreted
# work (n_cells x dim cosine folds) is small enough that fan_out's
# repartition would be pure plan noise — the pinned 16-cell serves stay
# exchange-free. At or above it the batch is spread first (r13: a
# one-file 10k-query batch against a 4097-cell model straggled minutes
# in one task).
_PROBE_FANOUT_MIN_CELLS = 256

# LUT-build fan-out threshold, in interpreted fold count (n_queries x
# m_sub x n_codes): ~1M folds is ~10 s on one core — above it the batch
# is spread before the LUT projection; below it (every pinned fixture:
# 40 queries x 4096 = 164k) the plan stays exchange-free.
_LUT_FANOUT_FOLDS = 1 << 20

# ADC LUT join transport (r13, found by the amortization soak rung): the
# per-query LUT row is m_sub x n_codes doubles (~32 KB at the 16x256
# default), so a forced broadcast scales with the QUERY BATCH — 10k
# queries x 4 probes is ~1.3 GB shipped to every task. Above this
# estimated payload the hint is dropped and AQE picks the join (it still
# broadcasts genuinely small sides). 64 MB, matching the session's
# broadcast-threshold posture.
_LUT_BROADCAST_BYTES = 64 * 1024 * 1024

# Soak instrumentation: centroid-model rows the driver last collected.
# tools/scale_soak.py asserts this grows SUBLINEARLY in n_cells — the
# machine-readable form of the r9 verdict's "driver's copy stays
# sublinear" contract.
_LAST_DRIVER_MODEL_ROWS = 0


def _two_level_assign(
    df: DataFrame,
    cents: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    prefix: str,
    t: int = 1,
    coarse_probe: int = 4,
    seed: int = 42,
    with_cos: bool = False,
    fine_rep: int = 4,
) -> DataFrame:
    """Two-level nearest-cell assignment — the scale tier for
    corpus-scale centroid models (r9 verdict "What's wrong #2").

    One-level assignment collects the whole centroid model to the driver
    and ships it to every task; under the auto cell rule
    (n_cells ~ rows/target_cell_size) the model is LINEAR in corpus size
    (~8M centroids at 1e9 embeddings) — the model itself becomes
    corpus-scale driver traffic. This tier keeps the driver's copy
    sublinear:

    - COARSE level: max(16, isqrt(n_cells)) centroids picked FROM the
      fine set by the same deterministic hash rule (seed+101) — the ONLY
      driver-collected model (8M cells -> ~2.8k coarse rows).
    - FINE level: the full centroid frame stays a DataFrame. Each fine
      centroid is REPLICATED under its `fine_rep` nearest coarse owners
      (narrow Arrow pass over the model-sized frame against the same
      driver-held coarse matrix), partitioning the fine model by coarse
      cell with redundancy. Replicating the MODEL is the cheap recall
      lever: fine_rep multiplies an n_cells-row frame, while raising
      coarse_probe multiplies the CORPUS shuffle (r11 — single-owner
      fine assignment measured 0.56 agreement on the overlapping-
      cluster soak corpus; the toy-cluster pytest's 0.9+ did not
      transfer; fine_rep 3/4/5/6 measured 0.86/0.91/0.95/0.98 at the
      x10 rung — default 4 clears the 0.9 recall bar with the GEMM
      still a sqrt-factor below one-level).
    - Each input row probes its `coarse_probe` nearest coarse cells
      (narrow Arrow pass; only the sqrt-sized coarse matrix is
      closure-shipped) and meets only those cells' fine centroids in a
      cogrouped GEMM: the row side shuffles by coarse (x coarse_probe),
      the fine side is model-sized (x fine_rep). Per-group
      argmax-of-cosine, then a per-row top-t trim (desc cosine, asc
      cell — the literal tier's exact tie-break).

    Approximation contract (the Arrow-tier precedent at _assign_nearest:
    recall-gated, not bit-gated): a row finds its true nearest fine
    centroid iff ANY of that centroid's fine_rep coarse owners is among
    the row's probes; with coarse_probe >= n_coarse the tier is
    exhaustive and must agree with one-level assignment (the
    tier-equality pytest). Cell ids, membership semantics, and
    downstream plans are unchanged — only the assignment transport
    differs. A fine centroid reachable through several probed owners
    yields bit-identical duplicate candidates (same doubles, same
    arithmetic); the t=1 min-aggregate absorbs them and the t>1 path
    dedups per (row, cell) before the trim.

    Returns ({prefix}_id, {prefix}_vec, {prefix}_norm, cell
    [, {prefix}_cos]) with up to t rows per input row (t=1: assignment;
    t=n_probe: query-side probes)."""
    import math

    global _LAST_DRIVER_MODEL_ROWS
    n_coarse = min(
        max(16, math.isqrt(int(n_cells))), _DRIVER_MODEL_CELL_BUDGET
    )
    coarse_probe = max(2, min(coarse_probe, n_coarse))
    coarse_rows = (
        cents.select(
            "centroid",
            F.xxhash64(F.col("cell").cast("string"), F.lit(seed + 101)).alias(
                "h"
            ),
        )
        .orderBy("h")
        .limit(n_coarse)
        .withColumn(
            "coarse",
            F.row_number().over(W.partitionBy(F.lit(0)).orderBy("h")) - 1,
        )
        .select("coarse", "centroid")
        .collect()
    )
    _LAST_DRIVER_MODEL_ROWS = len(coarse_rows)
    coarse_sorted = sorted(coarse_rows, key=lambda r: r["coarse"])
    cmat = np.asarray(
        [[float(x) for x in r["centroid"]] for r in coarse_sorted],
        dtype=np.float64,
    )
    coarse_ids = np.asarray(
        [int(r["coarse"]) for r in coarse_sorted], dtype=np.int32
    )
    cmat_unit_t = (cmat / np.linalg.norm(cmat, axis=1)[:, None]).T

    def _topk_coarse_udf(k: int):
        # top-k coarse cells by cosine against the driver-held coarse
        # matrix; stable sort on -score => lowest coarse id wins exact
        # ties (ids ascend), matching the literal tier's struct-min
        # tie-break. Row norms are positive scalars, so argsort over
        # un-normalized dot products is the cosine order.
        @F.pandas_udf("struct<probes:array<int>, vnorm:double>")
        def _f(vecs: pd.Series) -> pd.DataFrame:
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs],
                dtype=np.float64,
            )
            vnorm = np.sqrt((m * m).sum(axis=1))
            scores = m @ cmat_unit_t
            idx = np.argsort(-scores, axis=1, kind="stable")[:, :k]
            return pd.DataFrame(
                {
                    "probes": [coarse_ids[r].tolist() for r in idx],
                    "vnorm": vnorm,
                }
            )

        return _f

    # fine centroids -> their fine_rep nearest coarse owners each,
    # replicated (model-sized frame x fine_rep; same narrow Arrow pass
    # as the row-side probe, no distributed assignment round-trip).
    fine_rep = max(1, min(fine_rep, n_coarse))
    fine = (
        cents.select(
            F.col("cell").alias("fcell"),
            F.col("centroid").alias("fcent"),
            _topk_coarse_udf(fine_rep)(F.col("centroid")).alias("_o"),
        )
        .select(
            "fcell",
            "fcent",
            F.col("_o.vnorm").alias("fnorm"),
            F.explode(F.col("_o.probes")).alias("coarse"),
        )
        .select("coarse", "fcell", "fcent", "fnorm")
    )

    probed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        _topk_coarse_udf(coarse_probe)(F.col(vec_col)).alias("_a"),
    ).select(
        "_id",
        "_vec",
        F.col("_a.vnorm").alias("_vnorm"),
        F.explode(F.col("_a.probes")).alias("coarse"),
    )

    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    out_schema = (
        f"_id {id_t}, _vec {vec_t}, _vnorm double, cell int, _cos double"
    )
    empty_cols = ["_id", "_vec", "_vnorm", "cell", "_cos"]

    def _best_in_coarse(left: pd.DataFrame, right: pd.DataFrame):
        # a coarse cell can own zero fine centroids only via an exact
        # centroid tie; rows probing it get candidates from their other
        # probes (coarse_probe >= 2 by construction). Empty LEFT groups
        # are routine when the input is small relative to n_coarse
        # (e.g. an 8-row query batch probing a 64-coarse model). The
        # empty frame's columns must be OBJECT dtype: pandas defaults
        # empty lists to float64 and Arrow cannot convert a float64
        # numpy column to the array<float> output field (r12 — found by
        # the over-budget soak rung, latent since r10 for any batch
        # smaller than the coarse model).
        if left.empty or right.empty:
            return pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in empty_cols}
            )
        order = np.argsort(right["fcell"].to_numpy(), kind="stable")
        fmat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in right["fcent"]],
            dtype=np.float64,
        )[order]
        fnorm = right["fnorm"].to_numpy()[order]
        fcell = right["fcell"].to_numpy()[order]
        rows = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in left["_vec"]],
            dtype=np.float64,
        )
        vnorm = left["_vnorm"].to_numpy()
        cos = (rows @ fmat.T) / (vnorm[:, None] * fnorm[None, :])
        tt = min(t, cos.shape[1])
        if tt == 1:
            # first-max rule = lowest fcell on exact ties (sorted ascending)
            best = np.argmax(cos, axis=1)
            return pd.DataFrame(
                {
                    "_id": left["_id"].to_numpy(),
                    "_vec": left["_vec"].to_numpy(),
                    "_vnorm": vnorm,
                    "cell": fcell[best].astype("int32"),
                    "_cos": cos[np.arange(len(rows)), best],
                }
            )
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :tt]
        reps = np.repeat(np.arange(len(rows)), tt)
        cols = idx.ravel()
        return pd.DataFrame(
            {
                "_id": left["_id"].to_numpy()[reps],
                "_vec": left["_vec"].to_numpy()[reps],
                "_vnorm": vnorm[reps],
                "cell": fcell[cols].astype("int32"),
                "_cos": cos[reps, cols],
            }
        )

    cand = (
        probed.groupBy("coarse")
        .cogroup(fine.groupBy("coarse"))
        .applyInPandas(_best_in_coarse, out_schema)
    )
    if t == 1:
        # assignment: a map-side-combinable min over (negated cosine,
        # cell) — partial per-task minima collapse BEFORE the exchange,
        # so the per-row shuffle carries ~1 row per (task, row) instead
        # of all coarse_probe candidates (a row_number window cannot
        # partial-aggregate). Tie-break identical: lowest cell on equal
        # cosine; sign flip of a double is exact, so _cos round-trips
        # bit-identically.
        best = (
            cand.groupBy("_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_cos")).alias("negcos"),
                        F.col("cell").alias("cell"),
                        F.col("_vec").alias("vec"),
                        F.col("_vnorm").alias("vnorm"),
                    )
                ).alias("b")
            )
            .select(
                "_id",
                F.col("b.vec").alias("_vec"),
                F.col("b.vnorm").alias("_vnorm"),
                F.col("b.cell").alias("cell"),
                (-F.col("b.negcos")).alias("_cos"),
            )
        )
    else:
        # fine_rep can surface the same (row, cell) candidate through
        # several probed owners — bit-identical duplicates (same
        # doubles, same GEMM arithmetic). Dedup before the top-t trim
        # or a duplicated cell would occupy two of the t slots.
        w = W.partitionBy("_id").orderBy(F.desc("_cos"), "cell")
        best = (
            cand.groupBy("_id", "cell")
            .agg(
                F.max("_cos").alias("_cos"),
                F.first("_vec").alias("_vec"),
                F.first("_vnorm").alias("_vnorm"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= t)
        )
    out_cols = [
        F.col("_id").alias(f"{prefix}_id"),
        F.col("_vec").alias(f"{prefix}_vec"),
        F.col("_vnorm").alias(f"{prefix}_norm"),
        F.col("cell"),
    ]
    if with_cos:
        out_cols.append(F.col("_cos").alias(f"{prefix}_cos"))
    return best.select(*out_cols)


def _assign_cells_auto(
    df: DataFrame,
    cents: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    prefix: str,
    seed: int = 42,
):
    """Budget dispatch between one-level assignment (driver-collected
    model; the literal/Arrow tiers where every golden pin lives) and the
    two-level distributed-model tier. Returns (assigned, cent_rows):
    cent_rows is None on the two-level tier — callers needing per-cell
    centroid VALUES there must join `cents` instead of indexing a driver
    literal."""
    global _LAST_DRIVER_MODEL_ROWS
    if n_cells <= _DRIVER_MODEL_CELL_BUDGET:
        cent_rows = cents.collect()
        _LAST_DRIVER_MODEL_ROWS = len(cent_rows)
        return _assign_nearest(df, cent_rows, id_col, vec_col, prefix), cent_rows
    return (
        _two_level_assign(
            df, cents, n_cells, id_col, vec_col, prefix, seed=seed
        ),
        None,
    )


def _rank_cell_candidates(ca: DataFrame, qa: DataFrame, k: int) -> DataFrame:
    cand = (
        ca.join(F.broadcast(qa), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # Re-rank with the norms both sides already carry — same operand
    # order as cosine() (dot / (norm_q * norm_n)), so values stay
    # bit-identical while the per-candidate interpreted work drops to
    # one dot fold.
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("query_vec"), F.col("neighbor_vec"))
            / (F.col("query_norm") * F.col("neighbor_norm")),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    refine_iters: int = 0,
    refine_sample_mod: int = 1,
) -> None:
    """Materialize the IVF index: the corpus written partitioned by its
    nearest cell (`path/cell=<n>/...`), centroids alongside at
    `path/_centroids` (underscore-prefixed, so corpus readers skip it).
    One narrow pass over the corpus + one partitioned write — this is the
    'written bucketed by cell once' half of the 100 TB plan; at that
    scale you rebuild when centroid drift degrades recall, not per
    query. refine_iters>=2 is the measured recommendation (r12,
    tools/centroid_quality.py: serve recall 0.73 -> 0.95 at x10 planted
    clusters for one Lloyd pass on a 1/4 sample). Above
    _DRIVER_MODEL_CELL_BUDGET refinement runs distributed (r13,
    ivf_refine_centroids_distributed) — the model never reaches the
    driver. The default stays 0 because the unrefined hash-pick is the
    tier every golden pin was derived on."""
    cents = _ivf_centroid_frame(corpus, n_cells, id_col, vec_col, seed)
    if n_cells > _DRIVER_MODEL_CELL_BUDGET:
        # Lloyd refinement runs distributed above the budget (r13):
        # the model never reaches the driver — assignment through the
        # two-level tier, update as one groupBy((cell,pos)) mean pass.
        if refine_iters:
            cents = ivf_refine_centroids_distributed(
                corpus, cents, n_cells, refine_iters, id_col, vec_col,
                seed=seed, sample_mod=refine_sample_mod,
            )
        assigned = _two_level_assign(
            corpus, cents, n_cells, id_col, vec_col, "neighbor", seed=seed
        )
    else:
        cent_rows = cents.collect()
        if refine_iters:
            cent_rows = ivf_refine_centroids(
                corpus, cent_rows, refine_iters, id_col, vec_col,
                sample_mod=refine_sample_mod,
            )
        # The centroid sidecar is written from the COLLECTED rows (r14):
        # writing the original `cents` subplan would re-run the centroid
        # selection — a second corpus pass for a model-sized sidecar.
        # Same rows by construction (cent_rows IS cents.collect()).
        cents = local_frame(
            corpus.sparkSession,
            [
                (int(c["cell"]), [float(x) for x in c["centroid"]])
                for c in cent_rows
            ],
            "cell int, centroid array<double>",
        )
        assigned = _assign_nearest(corpus, cent_rows, id_col, vec_col, "neighbor")
    # The corpus overwrite targets `path` ITSELF, which clears the
    # _centroids/_meta SUBdirectories — it cannot run concurrently with
    # the sidecar writes (a parallel attempt raced the overwrite's
    # delete phase against the sidecar committers). Corpus first, then
    # the two disjoint sidecar sinks as concurrent jobs (guide §2.6).
    (
        assigned.withColumnRenamed("neighbor_id", id_col)
        .withColumnRenamed("neighbor_vec", vec_col)
        .withColumnRenamed("neighbor_norm", "vnorm")  # probe-time reuse
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    run_parallel(
        lambda: cents.write.mode("overwrite").parquet(path + "/_centroids"),
        # seed sidecar (r12 advice): serve/append re-derive the two-level
        # coarse model from this seed so it matches the build's routing
        lambda: local_frame(
            corpus.sparkSession, [(int(seed),)], "seed int"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/_meta"),
    )


def label_outliers(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-class embedding outliers: vectors whose cosine similarity to
    their own label's centroid sits more than `z_threshold` standard
    deviations BELOW the label mean — the mislabeled/garbage candidates a
    curation pipeline quarantines before training.

    Determinism discipline (the thing that makes this a full-oracle
    query): similarity is rounded to 6 dp, staged onto an integer 1e6
    grid, and the per-label mean/variance are computed from DECIMAL sums
    of those integers — associative, so partial-aggregation order cannot
    move the z-scores; every double op downstream has a pinned operand
    order the DuckDB oracle mirrors exactly.

    Plan: the decimal-staged label_centroids pass (one shuffle), a
    broadcast of the per-label centroid arrays + moment rows (both
    model-parameter-sized: one row per label), and a scan-local filter.
    The corpus shuffles once (the centroid aggregation), never for the
    z-scoring."""
    cents_long = label_centroids(emb, label_col, id_col, vec_col)
    cent_arr = (
        cents_long.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "centroid_val"))
            ).alias("_cl")
        )
        .select(
            label_col,
            F.transform("_cl", lambda s: s["centroid_val"]).alias("_centroid"),
        )
    )
    sim = F.round(
        cosine(F.col(vec_col).cast("array<double>"), F.col("_centroid")), 6
    )
    staged = emb.join(F.broadcast(cent_arr), label_col).select(
        label_col,
        id_col,
        sim.alias("sim_r"),
        F.round(sim * 1e6, 0).cast("long").alias("_q"),
    )
    stats = staged.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_s"),
        F.sum((F.col("_q") * F.col("_q")).cast("decimal(38,0)")).alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_n")
    var = F.col("_ss").cast("double") / F.col("_n") - mean * mean
    z = (F.col("_q").cast("double") - mean) / F.sqrt(var)
    return (
        staged.join(F.broadcast(stats), label_col)
        .withColumn("_z", z)
        .where(F.col("_z") <= -float(z_threshold))
        .select(label_col, id_col, "sim_r", F.round("_z", 4).alias("z_r"))
    )


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold new vectors into an existing IVF index WITHOUT rebuilding:
    assign each to its nearest cell under the index's OWN stored
    centroids (they are the index's definition — reusing them keeps
    every past and future probe consistent) and parquet-append into the
    cell partitions. Cost is O(batch), independent of index size — the
    ANN twin of dedup_fuzzy.minhash_index_append. Centroids drift as the
    distribution shifts; when recall degrades, rebuild (ivf_build_index)
    — the same rebuild-on-drift policy a 100 TB deployment runs.

    The append is CLUSTERED by cell before the partitioned write
    (repartition on the partition column -> each touched cell's rows land
    in one task -> one file per touched cell per append), so a long
    append history grows the store by O(cells) files per batch instead of
    O(tasks x cells) slivers — the same file-count discipline the dedup
    index's posting writes learned; `ivf_index_compact` folds the
    accumulated per-append files down when probe cost starts tracking
    file opens instead of bytes."""
    spark = new_vectors.sparkSession
    cents = spark.read.parquet(path + "/_centroids")
    n_cells = _stored_n_cells(spark, path)  # fingerprint-memoized (r12)
    assigned, _ = _assign_cells_auto(
        new_vectors, cents, n_cells, id_col, vec_col, "neighbor",
        seed=_stored_seed(spark, path),
    )
    (
        append_v1(
            assigned.withColumnRenamed("neighbor_id", id_col)
            .withColumnRenamed("neighbor_vec", vec_col)
            .withColumnRenamed("neighbor_norm", "vnorm")
            .repartition(F.col("cell"))
            .write.partitionBy("cell")
            .mode("append")
        ).parquet(path)
    )


def _folded_tags_read(spark, path: str) -> set[str]:
    """The store's folded-tag manifest: every streaming ingest_batch tag
    a compaction has ever folded into the base (sidecar `_folded_tags`,
    one string column). streaming/ann_stream.py reads it per stream to
    detect checkpoint-LOSS re-ingest: a trigger whose batch id is already
    in the manifest is re-delivering data the base may already hold (a
    fresh checkpoint restarts batch ids at 0), which dynamic partition
    overwrite alone cannot make idempotent — r13 measured exactly this
    (probes moved until a manual compact). Empty set when absent
    (pre-r14 stores, or no compaction yet)."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    df = _try_read_parquet(spark, path + "/_folded_tags")
    return set() if df is None else {r["tag"] for r in df.collect()}


def _inc_tags_listed(spark, inc_p: str) -> set[str]:
    """ingest_batch tags present in an increment tree, from a plain FS
    listing (no Spark job)."""
    from ct_mapreduce_spark.fsutil import _fs_and_path

    fs, p = _fs_and_path(spark, inc_p)
    if not fs.exists(p):
        return set()
    return {
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(p)
        if st.isDirectory()
        and st.getPath().getName().startswith("ingest_batch=")
    }


def _folded_tags_frame(spark, tags: set[str]):
    return local_frame(
        spark, [(t,) for t in sorted(tags)], "tag string"
    ).coalesce(1)


# Past this many distinct cells in one healed batch the heal's base scan
# skips the partition-pruning IN-list (a literal that large costs more in
# planning than the pruning saves; a batch spanning that many cells is
# reading most of the store anyway).
_HEAL_PRUNE_MAX_CELLS = 4096


def heal_reingested_tag(spark, path: str, store: str, tag: str) -> int:
    """Converge one re-delivered FOLDED tag without an O(store) rewrite.

    Checkpoint-LOSS re-ingest (streaming/ann_stream.py): a fresh
    checkpoint restarts batch ids, so a trigger re-delivers data whose
    tag an earlier compaction already folded into the base — the
    trigger's dynamic partition overwrite recreates the tag's increment
    partition and probes would serve duplicate neighbors. The r13
    characterization healed this with a full compaction (full-row
    dropDuplicates), but that is an O(store) rewrite PER re-delivered
    tag — on a long history the exceptional path would cost
    n_folded_tags x store rewrites. This helper is the bounded form of
    the same full-row-identity rule: anti-join the tag's increment rows
    against the base (scan pruned to the batch's own cells — the
    incremental dedup index's bounded-IN-list probe shape) and rewrite
    ONLY that tag's partition with the novel remainder, deleting it
    outright when nothing novel remains. O(batch + pruned base scan),
    zero base rows move.

    Full-ROW identity (id + cell + payload), not id identity: a
    genuinely-new batch colliding with a folded tag id keeps every row
    the compaction heal would have kept. Idempotent — a crash-replay
    rewrites the full partition and the next heal converges it again.
    Returns the number of duplicate rows removed."""
    from ct_mapreduce_spark.fsutil import _fs_and_path
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    data_root = path + ("/codes" if store == "pq" else "")
    inc_p = data_root + "/_inc"
    inc = _try_read_parquet(spark, inc_p)
    if inc is None or "ingest_batch" not in inc.columns:
        return 0
    tag_rows = inc.where(
        F.col("ingest_batch").cast("string") == str(tag)
    ).drop("ingest_batch")
    cols = tag_rows.columns
    base = spark.read.parquet(data_root)
    cells = [
        r["cell"]
        for r in tag_rows.select("cell").distinct().limit(
            _HEAL_PRUNE_MAX_CELLS + 1
        ).collect()
    ]
    n_tag = tag_rows.count()
    if n_tag == 0:
        return 0
    if len(cells) <= _HEAL_PRUNE_MAX_CELLS:
        base = base.where(F.col("cell").isin(cells))
    # bounded probe: base-side semi join against the broadcast batch
    # keys runs scan-local on the pruned base; both sides of the
    # full-row anti-join are then batch-sized
    keys = tag_rows.select(cols[0], "cell")
    cand = base.join(F.broadcast(keys), [cols[0], "cell"], "left_semi")
    novel = tag_rows.join(cand.select(*cols), cols, "left_anti").localCheckpoint(
        eager=True
    )
    n_novel = novel.count()
    if n_novel == n_tag:
        return 0
    part_dir = inc_p + f"/ingest_batch={tag}"
    if n_novel == 0:
        # dynamic overwrite cannot replace a partition with zero rows —
        # drop the directory outright
        fs, p = _fs_and_path(spark, part_dir)
        if fs.exists(p):
            fs.delete(p, True)
        return n_tag
    (
        novel.withColumn("ingest_batch", F.lit(str(tag)))
        .coalesce(4)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(inc_p)
    )
    return n_tag - n_novel


def ivf_index_compact(
    spark, path: str, exclude_tags: set[str] | None = None
) -> tuple[int, int]:
    """Index maintenance for a long-lived IVF store: rewrite the
    accumulated per-append cell files into one right-sized file per cell
    — the ANN twin of dedup_fuzzy.minhash_index_compact. Every
    ivf_index_append adds ~one file per touched cell; after thousands of
    batches a probe's cost is dominated by opening those files, not by
    the bytes the cell partition filter actually admits. Same crash-safe
    temp-write + rename-aside swap as the cert store (fsutil.py):
    `_centroids` is carried into the temp tree before the swap, so the
    index is never visible without its own definition. Probe results are
    unchanged (pytest-asserted: ivf_topk_indexed bit-identical before vs
    after). Returns (files_before, files_after).

    If the index carries streaming increment trees ({path}/_inc, written
    by streaming/ann_stream.py), they are folded into the cell-
    partitioned base and deleted. The fold full-row-deduplicates
    (an index row is (id, vector, norm, cell) — exact duplicates are
    only ever produced by a crash between a completed swap and the
    increment delete), which makes compaction IDEMPOTENT: re-running it
    over any crash leftover converges to the same store.

    `exclude_tags` (the streaming auto-compaction contract, mirroring
    minhash_index_compact's): increment partitions under the named
    ingest_batch tags — only the in-flight batch can ever replay — are
    NOT folded; they are carried verbatim into the compacted tree's
    _inc, so a crash-replay's dynamic partition overwrite replaces
    exactly its own rows and probes never see a folded copy beside a
    replayed one."""
    from ct_mapreduce_spark.fsutil import (
        TMP_SUFFIX,
        count_parquet_files,
        delete_path,
        recover_swap,
        swap_into_place,
    )

    recover_swap(spark, path)
    inc_p = path + "/_inc"
    before = count_parquet_files(spark, path) + count_parquet_files(
        spark, inc_p
    )
    # All reads execute fully BEFORE the swap renames the source dir
    # (tmp write + centroid copy are complete jobs), so no checkpoint is
    # needed — the store never round-trips through executor memory.
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    corpus = spark.read.parquet(path)
    inc = _try_read_parquet(spark, inc_p)
    exclude = {str(t) for t in (exclude_tags or ())}
    keep_inc = None
    folded_tags = _folded_tags_read(spark, path)
    if inc is not None:
        fold = inc
        if exclude and "ingest_batch" in inc.columns:
            tag_str = F.col("ingest_batch").cast("string")
            keep_inc = inc.where(tag_str.isin(sorted(exclude)))
            fold = inc.where(~tag_str.isin(sorted(exclude)))
        corpus = corpus.unionByName(fold.select(*corpus.columns)).dropDuplicates()
        folded_tags |= _inc_tags_listed(spark, inc_p) - exclude
    cents = spark.read.parquet(path + "/_centroids")
    (
        corpus.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path + TMP_SUFFIX)
    )
    cents.write.mode("overwrite").parquet(path + TMP_SUFFIX + "/_centroids")
    # the seed sidecar (r13) rides through the swap like _centroids; a
    # pre-r13 store has none and stays without one (reads as seed 42)
    meta = _try_read_parquet(spark, path + "/_meta")
    if meta is not None:
        meta.coalesce(1).write.mode("overwrite").parquet(
            path + TMP_SUFFIX + "/_meta"
        )
    if folded_tags:
        # folded-tag manifest rides through the swap inside the tmp tree
        # (the swap renames the whole index dir); written before the
        # swap, so a crash can only LOSE the newest tags — the manifest
        # is a heal trigger, never a correctness input, so a missing tag
        # just means the pre-r14 behavior for that tag
        _folded_tags_frame(spark, folded_tags).write.mode(
            "overwrite"
        ).parquet(path + TMP_SUFFIX + "/_folded_tags")
    if keep_inc is not None:
        # the in-flight batch's increment rides through the swap inside
        # the new tree (the swap renames the WHOLE index dir, _inc
        # included); written before the swap, read-side completes first
        keep_inc.write.mode("overwrite").partitionBy("ingest_batch").parquet(
            path + TMP_SUFFIX + "/_inc"
        )
    swap_into_place(spark, path + TMP_SUFFIX, path)
    if keep_inc is None:
        delete_path(spark, inc_p)
    return before, count_parquet_files(spark, path) + count_parquet_files(
        spark, inc_p
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve ANN queries from a materialized ivf_build_index: assign each
    query its n_probe nearest cells from the stored centroids, then scan
    ONLY those cells' files — the `cell` partition filter prunes at the
    source (PartitionFilters in the scan, asserted in tests), so probe
    cost tracks the probed fraction of the corpus, not its size. Result
    is bit-identical to ivf_topk on the same corpus/parameters.

    If the index carries streaming increment trees ({path}/_inc, the
    LSM shape streaming/ann_stream.py writes per trigger), they are read
    transparently: the base partition-prunes on cell, the small
    increments row-filter on their cell DATA column — the same
    base ∪ increments probe the dedup index serves
    (dedup_fuzzy._read_store)."""
    cents = spark.read.parquet(path + "/_centroids")
    # memoized per sidecar fingerprint (r12) — a warm serve call
    # previously paid a count job on the model sidecar per probe
    stored_cells = _stored_n_cells(spark, path)
    if stored_cells > _DRIVER_MODEL_CELL_BUDGET:
        # two-level query probes (r10): the stored model stays distributed
        qa = _two_level_assign(
            queries, cents, stored_cells, id_col, vec_col, "query",
            t=n_probe, seed=_stored_seed(spark, path),
        )
    else:
        qa = _assign_probes(
            queries, cents, id_col, vec_col, "query", n_probe,
            n_cells=stored_cells,
        )
    # The probed-cell set is tiny (<= n_queries x n_probe distinct ints);
    # collecting it makes the pruning predicate a literal IN-list the
    # parquet source can evaluate against partition directories.
    probe_cells = sorted({r["cell"] for r in qa.select("cell").distinct().collect()})
    corpus = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    inc = _try_read_parquet(spark, path + "/_inc")
    if inc is not None:
        corpus = corpus.unionByName(
            inc.where(F.col("cell").isin(probe_cells)).select(*corpus.columns)
        )
    ca = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
        F.col("vnorm").alias("neighbor_norm"),
        "cell",
    )
    return _rank_cell_candidates(ca, qa, k)


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|, q_i =
    round(127 * x_i / scale) as TINYINT — 4x smaller embedding storage
    (the knob that matters when the embedding table is a large fraction
    of a 100 TB corpus). Pure expressions (transform/aggregate in
    codegen); zero vectors get scale 0 and all-zero codes. Reconstruction
    x~ = q * scale / 127; max abs error <= scale/254 by construction."""
    x = F.col(vec_col)
    scale = F.aggregate(
        x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    return emb.select(
        id_col,
        scale.alias("scale"),
        F.when(
            scale > 0,
            F.transform(
                x,
                lambda v: F.round(v.cast("double") * 127.0 / scale).cast(
                    "tinyint"
                ),
            ),
        )
        .otherwise(F.transform(x, lambda v: F.lit(0).cast("tinyint")))
        .alias("qvec"),
    )


def dequantize_embeddings(
    q: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of quantize_embeddings: x~_i = q_i * scale / 127 (double)."""
    return q.select(
        id_col,
        F.transform(
            F.col("qvec"),
            lambda v: v.cast("double") * F.col("scale") / F.lit(127.0),
        ).alias("embedding"),
    )


def semdedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.25,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    grouped: bool = True,
    block: int = 1024,
    target_cell_size: int = 128,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023 shape): embedding
    near-duplicate pairs found WITHIN clusters only — assign every vector
    to its nearest cell (narrow, no shuffle; same seeded centroids as
    ivf_topk), then self-join per cell. The cluster blocking turns the
    O(n^2) all-pairs cosine into sum-of-cell^2 local work: the self-join
    shuffles both sides by `cell`, so pair generation is bucket-local —
    at 100 TB each cell's pairs materialize on one executor's partition,
    never a global cross join (the exactness witness for the in-cell
    math is emb_cosine_near_dup's full-oracle query).

    Returns (cell, vec_a, vec_b, cosine) with vec_a < vec_b, cosine
    rounded to 6; the canonical keep-rule downstream is min-id (drop any
    row appearing as vec_b). Cross-cell near-dups are invisible by
    design — that recall/cost trade is the published algorithm's.

    Two equivalent tiers (same pair set by construction — thresholding
    happens on the un-rounded cosine in both; values agree because the
    dot/norm op sequence is identical and both round HALF_UP, the
    grouped tier via an explicit sign-aware floor(|x|*1e6+0.5) — np.round
    would be half-to-even; the pin gate re-verifies value equality on
    real data):

    - grouped=True (default): applyInPandas per cell — vectors shuffle
      ONCE (by cell), pair scores come from blocked numpy outer products
      accumulated left-to-right over the dim axis (same IEEE op sequence
      as the expression fold; np.dot/matmul would drift last-ulp), and
      pair rows leave Python already thresholded. ~2.5x the join form:
      the self-join shipped both 64-double vectors per CANDIDATE PAIR
      through the exchange; this ships each vector once. applyInPandas
      holds one cell's vectors in memory — at 100 TB scale n_cells so
      cells fit an executor (the published algorithm runs ~50k clusters
      for the same reason); `block` bounds the score-matrix chunk.
    - grouped=False: the pure-expression self-join form (no Python
      workers), the tier the golden pins were first derived on; the pin
      gate re-verifies the grouped default bit-matches the independent
      oracle.

    n_cells defaults to AUTO (None): max(16, rows // target_cell_size),
    one bounded count job. The r6 soak proved the algorithm's contract
    is constant CELL SIZE, not constant cell count — a fixed n_cells
    silently degrades toward quadratic in-cell pair work as the corpus
    grows (10x corpus at fixed 16 cells = ~100x in-cell pairs; scaling
    to 160 cells was 4x faster at equal semantics). Pins and
    tier-equality tests pass n_cells explicitly, so the auto default
    never moves them.
    """
    if n_cells is None:
        n_cells = max(16, corpus.count() // target_cell_size)
    cents = _ivf_centroid_frame(corpus, n_cells, id_col, vec_col, seed)
    # budget dispatch (r10): above _DRIVER_MODEL_CELL_BUDGET the centroid
    # model is never driver-collected — assignment goes two-level, so the
    # auto cell rule (linear in corpus) no longer makes the MODEL linear
    # driver/task traffic. Pins pass explicit small n_cells and stay on
    # the one-level literal tier.
    ca, cent_rows = _assign_cells_auto(
        corpus, cents, n_cells, id_col, vec_col, "m", seed
    )
    if grouped:
        dim = (
            len(cent_rows[0]["centroid"])
            if cent_rows
            else len(corpus.select(vec_col).head(1)[0][0])
        )

        def _pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            if n < 2:
                return pd.DataFrame(
                    {"cell": [], "vec_a": [], "vec_b": [], "cosine": []}
                )
            pdf = pdf.sort_values("m_id", ignore_index=True)
            ids = pdf["m_id"].to_numpy()
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["m_vec"]]
            )
            norms = pdf["m_norm"].to_numpy()
            cell = int(pdf["cell"].iloc[0])
            out = []
            for s in range(0, n, block):
                ea = m[s : s + block]
                acc = np.zeros((len(ea), n))
                for i in range(dim):  # left-to-right: bit-equal to the fold
                    acc = acc + ea[:, i, None] * m[None, :, i]
                cosm = acc / (norms[s : s + block, None] * norms[None, :])
                ia, ib = np.nonzero(cosm >= threshold)
                keep = ids[s : s + block][ia] < ids[ib]
                # HALF_UP rounding (sign-aware), matching Spark F.round /
                # the expression tier exactly: np.round is half-to-even
                # and can differ in the last digit on exact midpoints.
                cv = cosm[ia, ib][keep]
                out.append(
                    pd.DataFrame(
                        {
                            "cell": cell,
                            "vec_a": ids[s : s + block][ia][keep],
                            "vec_b": ids[ib][keep],
                            "cosine": np.sign(cv)
                            * np.floor(np.abs(cv) * 1e6 + 0.5)
                            / 1e6,
                        }
                    )
                )
            return pd.concat(out, ignore_index=True)

        return ca.groupBy("cell").applyInPandas(
            _pairs_in_cell, "cell int, vec_a long, vec_b long, cosine double"
        )
    a = ca.select(
        "cell",
        F.col("m_id").alias("vec_a"),
        F.col("m_vec").alias("ea"),
        F.col("m_norm").alias("na"),
    )
    b = ca.select(
        "cell",
        F.col("m_id").alias("vec_b"),
        F.col("m_vec").alias("eb"),
        F.col("m_norm").alias("nb"),
    )
    pairs = a.join(b, "cell").where(F.col("vec_a") < F.col("vec_b"))
    # same operand order as cosine(): dot / (norm_a * norm_b)
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("cell", "vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def semdedup_keep(
    corpus: DataFrame,
    threshold: float = 0.25,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Keep-list after semantic dedup: drop every vector that appears as
    the HIGHER id of some within-cell near-dup pair (greedy min-id-wins —
    deterministic, one anti-join). n_cells=None auto-scales with corpus
    size (see semdedup_pairs)."""
    drops = semdedup_pairs(
        corpus, threshold, n_cells, id_col, vec_col, seed
    ).select(F.col("vec_b").alias(id_col))
    return corpus.join(drops, id_col, "left_anti")


def prototype_prune(
    corpus: DataFrame,
    keep_frac: float = 0.5,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    keep_hard: bool = True,
    target_cell_size: int = 128,
) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): assign every embedding to its nearest cluster
    prototype, score it by cosine similarity to that prototype, and keep
    each cluster's `keep_frac` HARDEST examples (lowest prototype
    cosine) — the published self-supervised metric that beats random
    pruning when data is abundant. `keep_hard=False` flips the
    direction (keep the most prototypical — the right call in the
    scarce-data regime, per the same paper).

    Plan — everything before the ranking is NARROW: seeded centroids
    (the IVF pick, model-sized), literal-array assignment plus the
    prototype-cosine projection via element_at on the same literal (no
    join, no shuffle for scoring); then per-cell counts come from a
    map-side-combined groupBy broadcast back (the dup_span_stats
    de-skew discipline — never count().over a data-sized window
    partition), and the only data shuffle is the per-cell rank window.
    Cell sizes are bounded by construction: n_cells=None auto-scales as
    max(16, rows // target_cell_size) (the SemDeDup contract), so the
    rank window's partitions stay ~target_cell_size at any corpus size.

    Returns (id, cell, proto_cos) for kept rows; proto_cos rounded to 6
    after all comparisons. The score uses the same IEEE fold order as
    cosine(), so results are bit-stable and pinned against the no-Spark
    independent oracle."""
    if n_cells is None:
        n_cells = max(16, corpus.count() // target_cell_size)
    cents = _ivf_centroid_frame(corpus, n_cells, id_col, vec_col, seed)
    if n_cells <= _DRIVER_MODEL_CELL_BUDGET:
        cent_rows = cents.collect()
        global _LAST_DRIVER_MODEL_ROWS
        _LAST_DRIVER_MODEL_ROWS = len(cent_rows)
        ca = _assign_nearest(corpus, cent_rows, id_col, vec_col, "m")
        s = F.element_at(_centroid_literal(cent_rows), F.col("cell") + 1)
        scored = ca.select(
            F.col("m_id").alias(id_col),
            "cell",
            (
                _dot(F.col("m_vec"), s["centroid"])
                / (F.col("m_norm") * s["norm"])
            ).alias("_pc"),
        )
    else:
        # two-level tier (r10): the assignment's winning cosine IS the
        # prototype score, so no centroid lookup is needed — the model
        # never reaches the driver above the budget
        scored = _two_level_assign(
            corpus, cents, n_cells, id_col, vec_col, "m",
            seed=seed, with_cos=True,
        ).select(
            F.col("m_id").alias(id_col),
            "cell",
            F.col("m_cos").alias("_pc"),
        )
    # two consumers: the counts agg and the ranking
    scored = scored.localCheckpoint()
    counts = scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("cell_n")
    )
    order = (
        [F.col("_pc").asc(), F.col(id_col).asc()]
        if keep_hard
        else [F.col("_pc").desc(), F.col(id_col).asc()]
    )
    w = W.partitionBy("cell").orderBy(*order)
    n_keep = F.ceil(F.lit(float(keep_frac)) * F.col("cell_n"))
    return (
        scored.join(F.broadcast(counts), "cell")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_keep)
        .select(id_col, "cell", F.round("_pc", 6).alias("proto_cos"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): m_sub subspace codebooks, uint8 codes, ADC scan
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Seeded PQ codebooks: for subspace j, the n_codes sub-vectors of
    the corpus rows with the lowest xxhash64(id, seed + j) — one
    deterministic hash-sample per subspace (different rows per subspace,
    so the product of codebooks is diverse), the same
    cheap-stand-in-for-k-means pick as _ivf_centroid_frame. Driver
    payload: m_sub x n_codes x (dim/m_sub) floats — model parameters,
    independent of corpus size. At 100 TB you'd estimate codebooks from
    a hash-sample anyway; the per-subspace pass here becomes a single
    sampled pass."""
    dim = int(corpus.select(F.size(vec_col).alias("d")).head()["d"])
    assert dim % m_sub == 0, f"dim {dim} not divisible by m_sub {m_sub}"
    d = dim // m_sub
    # ONE job for all subspaces (was m_sub orderBy/limit jobs — 8 corpus
    # scans of pure driver-job overhead): explode the per-subspace
    # (hash, sub-vector) entries and take each subspace's n_codes lowest
    # hashes with a rank window — WindowGroupLimit keeps the per-task
    # partial top-N ahead of the exchange, so the shuffle carries
    # ~m_sub x n_codes x tasks thin rows, not the corpus. Order within a
    # book is ascending hash exactly as before (vec_id tiebreak matches
    # the independent oracle's (h, vid) sort).
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(vec_col), j * d + 1, d).alias("sub"),
                F.xxhash64(
                    F.col(id_col).cast("string"), F.lit(seed + j)
                ).alias("h"),
            )
            for j in range(m_sub)
        ]
    )
    w = W.partitionBy("j").orderBy("h", "vid")
    picked = (
        corpus.select(
            F.col(id_col).alias("vid"), F.explode(entries).alias("e")
        )
        .select("vid", "e.j", "e.sub", "e.h")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_codes)
        .orderBy("j", "_rn")
        .collect()
    )
    books = [[] for _ in range(m_sub)]
    for r in picked:
        books[r["j"]].append([float(x) for x in r["sub"]])
    return books


def _pq_book_literal(book: list[list[float]]) -> Column:
    """One subspace's codebook as a literal array of (code, cvec) structs
    — one parsed SQL string per book (_sql_double_array), not one py4j
    call per literal."""
    arrs = [_sql_double_array(vec) for vec in book]
    if all(a is not None for a in arrs):
        entries = ", ".join(
            "named_struct('code', %d, 'cvec', %s)" % (c, arr)
            for c, arr in enumerate(arrs)
        )
        return F.expr("array(%s)" % entries)
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("code"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
            )
            for c, vec in enumerate(book)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorize: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector to m_sub uint8-range codes: per subspace, the
    argmin-L2 codebook entry (sequential fold, lowest code on ties).
    Narrow projection: no shuffle. The codes column is m_sub small ints
    per row — a 32x storage cut at dim=64 fp32, the memory tier below
    int8 quantization.

    Two BIT-IDENTICAL tiers (same IEEE op sequence, same tie rule):

    - vectorize=True (default): Arrow pandas_udf; per batch, each
      subspace pays d elementwise (x-y)*(x-y) + acc adds accumulated
      LEFT-TO-RIGHT over the d axis (a python loop of numpy ops — NOT
      np.sum, whose pairwise grouping would drift last-ulp from the
      fold) and one argmin (first-min = lowest code, the struct-min
      rule). Measured ~15x faster than the interpreted fold: the
      literal tier pays m_sub x n_codes interpreted lambda folds per
      ROW; this pays m_sub x d numpy ops per BATCH.
    - vectorize=False: the pure-expression array_min-over-structs form
      (no Python workers needed); the verification tier the golden pins
      were first derived on — the pin gate re-verifies the vectorized
      default bit-matches it via the independent oracle.

    `keep` names extra input columns to carry through unchanged (the
    IVF-PQ build threads the pre-assigned `cell` partition key through
    the encode this way — both passes stay narrow, no join-back).
    """
    m_sub = len(books)
    d = len(books[0][0])
    if vectorize:
        barr = np.asarray(books, dtype=np.float64)  # (m_sub, n_codes, d)

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _enc(vecs: pd.Series) -> pd.Series:
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs],
                dtype=np.float64,
            )
            out = np.empty((len(vecs), m_sub), dtype=np.int32)
            for j in range(m_sub):
                sub = m[:, j * d : (j + 1) * d]  # (n, d)
                acc = np.zeros((len(vecs), barr.shape[1]), dtype=np.float64)
                for i in range(d):  # left-to-right: bit-equal to the fold
                    diff = sub[:, i, None] - barr[j, None, :, i]
                    acc = acc + diff * diff
                out[:, j] = np.argmin(acc, axis=1)
            return pd.Series(list(out))

        return corpus.select(
            F.col(id_col),
            F.col(vec_col),
            _enc(F.col(vec_col)).alias("codes"),
            *[F.col(c) for c in keep],
        )
    code_cols = []
    for j, book in enumerate(books):
        sub = F.slice(F.col(vec_col), j * d + 1, d)
        best = F.array_min(
            F.transform(
                _pq_book_literal(book),
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            s["cvec"],
                            lambda x, y: (x.cast("double") - y)
                            * (x.cast("double") - y),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("dist"),
                    s["code"].alias("code"),
                ),
            )
        )
        code_cols.append(best["code"])
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.array(*code_cols).alias("codes"),
        *[F.col(c) for c in keep],
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    rerank_factor: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k by inner product: queries stay
    full-precision, corpus rows are m_sub codes; score(q, x) =
    sum_j LUT_q[j][code_j(x)] where LUT_q[j][c] = <q_sub_j, book_j[c]>.

    Physical shape: the per-query lookup tables (m_sub x n_codes doubles)
    are computed once per query and BROADCAST; the corpus side then pays
    m_sub array lookups + adds per row instead of `dim` multiplies — the
    ADC scan is a narrow map over the codes table (8 bytes/row at
    m_sub=8), no corpus shuffle; only the per-query top-k window moves
    candidate rows. Approximation is gated by recall tests
    (test_llm_ops.py), bit-stability by the golden-pin gate.

    ADC alone cannot rank INSIDE a tight cluster — co-cluster members
    quantize to the same codes and tie. rerank_factor > 0 adds the
    published fix (FAISS IVFPQ+refine shape): shortlist k*rerank_factor
    by ADC, then re-score only the shortlist with exact cosine on the
    full vectors — the shortlist is queries x k x factor rows, so it
    broadcasts against the corpus for the vector fetch; the corpus still
    never shuffles and full vectors are only read for the sliver."""
    books = pq_codebooks(corpus, m_sub, n_codes, id_col, vec_col, seed)
    codes = pq_encode(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    return _pq_adc_rank(
        codes, queries, books, k, id_col, vec_col,
        rerank_corpus=corpus if rerank_factor else None,
        rerank_factor=rerank_factor,
    )


def _pq_adc_rank(
    codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int,
    id_col: str,
    vec_col: str,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 0,
    probe_pairs: DataFrame | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """The ADC scan + rank shared by the inline (pq_topk), materialized
    (pq_topk_indexed), and cell-pruned (pq_ivf_topk_indexed) serve
    paths: per-query LUT broadcast, narrow scored map over the codes
    frame, WindowGroupLimit top-k, optional exact-cosine re-rank of the
    shortlist against `rerank_corpus`. Expression-for-expression the
    original pq_topk body, so all callers stay bit-identical to the
    golden pin on the candidates they admit.

    probe_pairs (query_id, cell — the IVF probe assignment, n_queries x
    n_probe rows) switches the query join from all-pairs to an
    equi-join on `cell`: the codes frame must then carry a `cell`
    column, and each candidate is scored only for the queries probing
    its cell. The LUT rows duplicate per probed cell on the BROADCAST
    side (model-sized), never the corpus side. A `base` column on
    probe_pairs (the residual-IVFADC <q, centroid> term) is added to
    the ADC sum before the single rounding — the inner-product
    decomposition <q,x> = <q,c> + <q,r>.

    Batch-scale posture (r13, found by the amortization rung): the LUT
    is m_sub x n_codes interpreted folds PER QUERY (~4096 for the
    default 16x256 — ~40 ms/query of expression-eval work), so a
    10k-query batch concentrated in one input partition straggled for
    minutes on one core. One narrow count of the query batch drives
    two thresholds: past _LUT_FANOUT_FOLDS total folds the batch is
    fan_out'd before the LUT projection, and past _LUT_BROADCAST_BYTES
    estimated payload (n_queries x m_sub x n_codes x 8 B, x `n_probe`
    when paired) the LUT join's broadcast hint is dropped — a 10k x
    4-probe batch is a ~1.3 GB forced broadcast otherwise; AQE still
    broadcasts genuinely small batches. Below both thresholds (every
    pinned fixture) the plan is byte-identical to pre-r13.
    Values are join-strategy- and partitioning-independent; every pin
    is unchanged."""
    from ct_mapreduce_spark.operators.util import fan_out, local_frame

    d = len(books[0][0])
    lut_cols = []
    for j, book in enumerate(books):
        arrs = [_sql_double_array(vec) for vec in book]
        if all(a is not None for a in arrs):
            # one parsed SQL string per subspace: the Column-by-Column
            # form below cost ~4 s of pure driver time per serve at the
            # default 16x256 shape (r14, measured) — py4j round-trips,
            # not Catalyst. Bit-identical expressions after parsing.
            entries = ", ".join(
                "aggregate(zip_with(slice(`%s`, %d, %d), %s, "
                "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, "
                "(acc, v) -> acc + v)" % (vec_col, j * d + 1, d, arr)
                for arr in arrs
            )
            lut_cols.append(F.expr("array(%s)" % entries))
            continue
        qsub = F.slice(F.col(vec_col), j * d + 1, d)
        lut_cols.append(
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            qsub,
                            F.array(*[F.lit(float(x)) for x in vec]),
                            lambda x, y: x.cast("double") * y,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    for vec in book
                ]
            )
        )
    # one narrow count of the QUERY BATCH (user-sized, not the store)
    # decides both the LUT-build partitioning and the join transport.
    # The batch is materialized so its lineage executes exactly once:
    # the count, the LUT projection, and the re-rank's qvec read all hit
    # the checkpointed blocks instead of re-running whatever produced
    # the batch. LAZY checkpoint + count (r15, guide §5): the count is
    # the materializing action, so one job both persists the blocks and
    # returns the size — the eager form paid a second block-scan job per
    # serve for the same answer.
    queries = queries.localCheckpoint(eager=False)
    n_queries = queries.count()
    lut_folds = len(books) * len(books[0])
    qsrc = queries
    if n_queries * lut_folds >= _LUT_FANOUT_FOLDS:
        # below the threshold the single-partition build is cheaper
        # than an exchange and the pinned plans stay byte-identical
        qsrc = fan_out(queries)
    qlut = qsrc.select(
        F.col(id_col).alias("query_id"), F.array(*lut_cols).alias("lut")
    )
    lut_bytes = lut_folds * 8
    with_base = probe_pairs is not None and "base" in probe_pairs.columns
    if probe_pairs is not None:
        # tiny x tiny join (both model-sized) BEFORE the broadcast, so
        # the corpus-side join is a plain equi-join on the partition key
        qlut = qlut.join(probe_pairs, "query_id")
        # every probe pair duplicates the full LUT row on the join side
        est = n_queries * lut_bytes * max(1, n_probe)
        hinted = F.broadcast(qlut) if est <= _LUT_BROADCAST_BYTES else qlut
        paired = codes.join(hinted, "cell")
    else:
        est = n_queries * lut_bytes
        hinted = F.broadcast(qlut) if est <= _LUT_BROADCAST_BYTES else qlut
        paired = codes.join(hinted)
    adc = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.col("codes"),
            lambda l, c: F.element_at(l, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        paired
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(F.col("base") + adc, 6) if with_base else F.round(adc, 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    if not rerank_factor:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )
    short = (
        scored.withColumn("r0", F.row_number().over(w))
        .where(F.col("r0") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    cvec = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        _norm(F.col(vec_col)).alias("nnorm"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    )
    rescored = (
        cvec.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "score",
            F.round(
                _dot(F.col("qvec"), F.col("nvec"))
                / (F.col("qnorm") * F.col("nnorm")),
                6,
            ),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def pq_build_index(
    corpus: DataFrame,
    path: str,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Materialize the PQ serve path: estimate codebooks once, encode
    the corpus, and persist {path}/codes (id + m_sub small ints per row
    — the 32x-smaller table every ADC scan reads) with the codebooks as
    a {path}/_codebooks sidecar (rows (j, code, cvec); model parameters,
    like the IVF index's _centroids). pq_topk re-estimates codebooks and
    re-encodes per CALL — fine inline, wrong as a serve path: at corpus
    scale the encode is the expensive pass and the codes table is the
    thing you keep. Full vectors are NOT stored (storing them would
    forfeit the compression that justifies PQ); the exact re-rank tier
    takes the vector corpus as an argument at query time."""
    books = pq_codebooks(corpus, m_sub, n_codes, id_col, vec_col, seed)
    spark = corpus.sparkSession
    rows = [
        (j, c, [float(x) for x in vec])
        for j, book in enumerate(books)
        for c, vec in enumerate(book)
    ]
    # Codes table + codebook sidecar are disjoint sinks: concurrent jobs.
    run_parallel(
        lambda: pq_encode(corpus, books, id_col, vec_col).select(
            id_col, "codes"
        ).write.mode("overwrite").parquet(path + "/codes"),
        lambda: local_frame(
            spark, rows, "j int, code int, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/_codebooks"),
    )


# Model-sidecar memo (r10 verdict task 6): a serve call previously paid
# a full collect job for the _codebooks sidecar (and one for _meta) on
# EVERY probe — fixed model data, m_sub x n_codes rows, but ~0.1-0.5 s of
# scheduling per read that dominates a warm sub-second probe. Keyed by
# the sidecar directory's (name, mtime_ns, size) listing so a rebuild
# (mode=overwrite rewrites the files) invalidates; a non-local path
# (no os.listdir — S3/HDFS at cluster scale) skips the memo and keeps
# the per-call read, the previous behavior.


class _BoundedMemo(OrderedDict):
    """LRU-bounded driver memo (r11 verdict task 4): entries are keyed
    by artifact fingerprint, so a long-lived serving daemon that cycles
    many indexes would otherwise grow driver memory per distinct
    fingerprint forever. Reads refresh recency; an insert past `cap`
    evicts the least-recently-used entry (an evicted model just re-reads
    its sidecar on next use — the pre-memo behavior). Values are
    model-sized (codebooks, meta booleans), so the cap bounds resident
    model memory at cap x model size."""

    cap = 64

    def __getitem__(self, key):
        val = super().__getitem__(key)
        self.move_to_end(key)
        return val

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.cap:
            self.popitem(last=False)

    def get(self, key, default=None):
        # dict.get does NOT route through __getitem__, so without this
        # override a .get() hit would skip the recency refresh and the
        # bound degrades to FIFO (r12 advice — verified empirically: a
        # just-read entry was evicted first).
        try:
            return self[key]
        except KeyError:
            return default


_SIDECAR_MEMO: _BoundedMemo = _BoundedMemo()


def _sidecar_fingerprint(path: str) -> tuple | None:
    import os

    try:
        return tuple(
            sorted(
                (f, s.st_mtime_ns, s.st_size)
                for f in os.listdir(path)
                if (s := os.stat(os.path.join(path, f)))
            )
        )
    except OSError:
        return None


def _pq_read_books(spark, path: str) -> list[list[list[float]]]:
    fp = _sidecar_fingerprint(path + "/_codebooks")
    key = ("books", path, fp)
    if fp is not None and key in _SIDECAR_MEMO:
        return _SIDECAR_MEMO[key]  # type: ignore[return-value]
    rows = spark.read.parquet(path + "/_codebooks").collect()
    m_sub = 1 + max(r["j"] for r in rows)
    n_codes = 1 + max(r["code"] for r in rows)
    books: list[list[list[float]]] = [
        [None] * n_codes for _ in range(m_sub)  # type: ignore[list-item]
    ]
    for r in rows:
        books[r["j"]][r["code"]] = list(r["cvec"])
    if fp is not None:
        _SIDECAR_MEMO[key] = books
    return books


def pq_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold new vectors into a materialized PQ index: encode under the
    index's STORED codebooks (they are the index's definition — the
    same consistency rule as ivf_index_append's stored centroids) and
    append to the codes table, coalesced so a long append history grows
    by a few files per batch. Codebooks drift as the distribution
    shifts; rebuild (pq_build_index) when ADC recall degrades."""
    spark = new_vectors.sparkSession
    books = _pq_read_books(spark, path)
    append_v1(
        pq_encode(new_vectors, books, id_col, vec_col)
        .select(id_col, "codes")
        .coalesce(4)
        .write.mode("append")
    ).parquet(path + "/codes")


def pq_index_compact(spark, path: str) -> tuple[int, int]:
    """Fold a PQ index's append history into right-sized codes files.
    Unlike the IVF store there is no partition level to cluster on (the
    ADC scan reads every code row by design), so compaction is purely a
    file-count fold: thousands of coalesced appends still mean
    thousands of file opens per probe. Same crash-safe rename-aside
    swap as the other index compactors; the _codebooks sidecar rides
    through untouched (it lives beside /codes, not inside it). Returns
    (files_before, files_after)."""
    from ct_mapreduce_spark.fsutil import (
        TMP_SUFFIX,
        count_parquet_files,
        recover_swap,
        swap_into_place,
    )

    codes_p = path + "/codes"
    recover_swap(spark, codes_p)
    before = count_parquet_files(spark, codes_p)
    df = spark.read.parquet(codes_p)
    # same 8x fold rule as the sigs store in minhash_index_compact
    df.coalesce(max(1, before // 8)).write.mode("overwrite").parquet(
        codes_p + TMP_SUFFIX
    )
    swap_into_place(spark, codes_p + TMP_SUFFIX, codes_p)
    return before, count_parquet_files(spark, codes_p)


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve PQ ANN queries from a materialized pq_build_index — the
    EXHAUSTIVE-ADC tier: every code row is scanned per query batch.
    This is the explicit small-corpus choice (full recall over the
    codes, no cell-assignment error); the DEFAULT serving
    recommendation at scale is pq_ivf_topk_indexed, whose probe reads
    only n_probe/n_cells of the codes (the IVFADC composition — same
    ADC expressions, cell-pruned). Mechanics: read the stored
    codebooks, broadcast per-query LUTs, ADC-scan the persisted codes
    table — no re-estimation, no re-encode; the only corpus-sized read
    is the 8-bytes-per-row codes scan. Bit-identical to pq_topk on the
    same corpus/parameters (shared _pq_adc_rank expressions).
    rerank_factor > 0 requires rerank_corpus (the full-vector table):
    the exact-cosine re-rank reads vectors only for the
    queries x k x factor shortlist sliver."""
    if rerank_factor and rerank_corpus is None:
        raise ValueError("rerank_factor > 0 requires rerank_corpus")
    books = _pq_read_books(spark, path)
    codes = spark.read.parquet(path + "/codes").select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    return _pq_adc_rank(
        codes, queries, books, k, id_col, vec_col,
        rerank_corpus=rerank_corpus, rerank_factor=rerank_factor,
    )


# ---------------------------------------------------------------------------
# IVF-PQ: cell-pruned ADC serving (Jégou, Douze, Schmid 2011 — "Product
# Quantization for Nearest Neighbor Search", the IVFADC architecture).
# Composition of the two stores above: the PQ codes table is PARTITIONED by
# IVF cell, so a probe reads n_probe/n_cells of the codes instead of all of
# them — the serve path that survives 100 TB, where pq_topk_indexed's
# exhaustive ADC scan (correct, but full-corpus per query batch) does not.
# ---------------------------------------------------------------------------


def _with_residual(
    assigned: DataFrame,
    cents: DataFrame,
    vec_col: str,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Add `_resid` = x − centroid(cell(x)) element-wise (double): a
    16-row broadcast join on the cell key, then a narrow zip_with — no
    corpus shuffle. The residual is what IVFADC quantizes: inside a
    cell the shared centroid carries no information, so spending the
    codebook on the residual is strictly more accurate per code.
    hint_broadcast=False on the above-budget tier (r12): a centroid
    model past _DRIVER_MODEL_CELL_BUDGET may exceed broadcast size, so
    the join is left to AQE (shuffle hash join on the cell key at
    worst — both sides already carry `cell`)."""
    cframe = cents.select("cell", "centroid")
    if hint_broadcast:
        cframe = F.broadcast(cframe)
    return assigned.join(cframe, "cell").withColumn(
        "_resid",
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ),
    ).drop("centroid")


def pq_ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    residual: bool = False,
    refine_iters: int = 0,
    refine_sample_mod: int = 1,
) -> None:
    """Materialize the IVF-PQ index: PQ codes partitioned by nearest IVF
    cell ({path}/codes/cell=<n>/ — the ivf_build_index layout carrying
    8-byte code rows instead of full vectors), with BOTH model sidecars
    ({path}/_centroids like the IVF store, {path}/_codebooks like the PQ
    store) and a {path}/_meta one-row sidecar recording the encoding.
    Build is two narrow passes fused into one write: nearest-cell
    assignment (_assign_nearest) threads `cell` through the encode
    (pq_encode keep=), then one cell-clustered partitioned write. No
    corpus join, no extra shuffle beyond the partition clustering —
    the same one-pass discipline as ivf_build_index.

    residual=True is the full published IVFADC (Jégou et al. 2011 §III):
    codebooks are estimated over and codes quantize the RESIDUAL
    x − centroid(cell(x)) instead of the raw vector — inside a cell the
    centroid is shared, so the codebook's 4 bits/subspace all go to the
    informative part; serving adds the per-(query, probed-cell)
    <q, centroid> term back before ranking (inner-product decomposition
    <q,x> = <q,c> + <q,r>). The residual pass is a 16-row broadcast
    join + zip_with — still no corpus shuffle.

    refine_iters: Lloyd-refine the seeded centroids before assignment
    (ivf_refine_centroids — same knob as ivf_build_index). This matters
    MORE here than for the full-vector store: an unrefined 'centroid'
    is a sampled member, so residuals are off-center (variance ~2σ²
    instead of σ²) and the residual tier's whole premise — spend the
    codebook on the within-cell part — is diluted. The published IVFADC
    coarse quantizer is k-means; pass refine_iters>=2 when building a
    residual index (see the two-fixture regime matrix in
    tests/test_llm_ops.py::test_pq_ivf_residual_regime_matrix).
    Measured at x10 planted clusters (r12, tools/centroid_quality.py,
    BASELINE.md): refinement moves probed-cell coverage 0.73 -> 0.95 at
    ~+2% build cost, residual+refined is the best composition (recall
    0.94) and residual+unrefined the WORST (0.64).

    Above _DRIVER_MODEL_CELL_BUDGET the build assigns through the
    two-level tier (r12): the centroid model never reaches the driver
    and the residual join drops its broadcast hint. refine_iters runs
    distributed there too (r13, ivf_refine_centroids_distributed) —
    the measured-worst composition (residual + unrefined) was exactly
    what the former fail-fast forced on >4096-cell residual stores."""
    cents = _ivf_centroid_frame(corpus, n_cells, id_col, vec_col, seed)
    over_budget = n_cells > _DRIVER_MODEL_CELL_BUDGET
    if over_budget:
        # two-level build assignment (r12): the centroid model stays a
        # DataFrame; only the sqrt-sized coarse model reaches the driver
        # (ivf_build_index's above-budget shape). Lloyd refinement runs
        # distributed (r13): this is the store that needs it MOST —
        # residual codebooks over off-center residuals are the measured
        # worst composition (coverage 0.64 vs 0.95 refined).
        if refine_iters:
            cents = ivf_refine_centroids_distributed(
                corpus, cents, n_cells, refine_iters, id_col, vec_col,
                seed=seed, sample_mod=refine_sample_mod,
            )
        assigned = _two_level_assign(
            corpus, cents, n_cells, id_col, vec_col, "v", seed=seed
        ).select(
            F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "cell"
        )
    else:
        cent_rows = cents.collect()
        if refine_iters:
            cent_rows = ivf_refine_centroids(
                corpus, cent_rows, refine_iters, id_col, vec_col,
                sample_mod=refine_sample_mod,
            )
        # Sidecar (and residual join) read the COLLECTED rows (r14):
        # writing the original `cents` subplan would re-run the centroid
        # selection — a second corpus pass for a model-sized sidecar.
        cents = local_frame(
            corpus.sparkSession,
            [
                (int(c["cell"]), [float(x) for x in c["centroid"]])
                for c in cent_rows
            ],
            "cell int, centroid array<double>",
        )
        assigned = _assign_nearest(corpus, cent_rows, id_col, vec_col, "v").select(
            F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "cell"
        )
    if residual:
        assigned = _with_residual(
            assigned, cents, vec_col, hint_broadcast=not over_budget
        )
        books = pq_codebooks(
            assigned, m_sub, n_codes, id_col, "_resid", seed
        )
        enc = pq_encode(assigned, books, id_col, "_resid", keep=("cell",))
    else:
        books = pq_codebooks(corpus, m_sub, n_codes, id_col, vec_col, seed)
        enc = pq_encode(assigned, books, id_col, vec_col, keep=("cell",))
    spark = corpus.sparkSession
    book_rows = [
        (j, c, [float(x) for x in vec])
        for j, book in enumerate(books)
        for c, vec in enumerate(book)
    ]
    # Four disjoint sinks (codes + three model sidecars), every input
    # already derived driver-side: concurrent jobs, identical bytes.
    run_parallel(
        lambda: (
            enc.select(id_col, "codes", "cell")
            .repartition(F.col("cell"))
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(path + "/codes")
        ),
        lambda: cents.write.mode("overwrite").parquet(path + "/_centroids"),
        lambda: local_frame(
            spark, book_rows, "j int, code int, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/_codebooks"),
        # seed persisted beside the residual flag (r12 advice): serve and
        # append read it back (_stored_seed) so their two-level coarse
        # model always matches the stored assignments' routing
        lambda: local_frame(
            spark, [(bool(residual), int(seed))], "residual boolean, seed int"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/_meta"),
    )


def _pq_ivf_is_residual(spark, path: str) -> bool:
    """Read the _meta sidecar; a pre-r8 index without one is raw.
    Memoized per on-disk fingerprint like _pq_read_books."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    fp = _sidecar_fingerprint(path + "/_meta")
    key = ("residual", path, fp)
    if fp is not None and key in _SIDECAR_MEMO:
        return _SIDECAR_MEMO[key]  # type: ignore[return-value]
    meta = _try_read_parquet(spark, path + "/_meta")
    if meta is None or "residual" not in meta.columns:
        # no sidecar (pre-r8), or a seed-only sidecar (the IVF store's
        # r13 shape) — both mean raw
        got = False
    else:
        rows = meta.collect()
        got = bool(rows and rows[0]["residual"])
    if fp is not None:
        _SIDECAR_MEMO[key] = got
    return got


def _pq_ivf_n_cells(spark, path: str) -> int:
    """Stored-cell count for the serve-side budget dispatch (r12):
    memoized per on-disk fingerprint like _pq_read_books, so a warm
    serve call doesn't pay a count job on the model sidecar. Despite
    the name this reads {path}/_centroids, the sidecar BOTH index
    layouts share — the full-vector IVF store's serve/append paths use
    it too (alias _stored_n_cells below)."""
    fp = _sidecar_fingerprint(path + "/_centroids")
    key = ("ncells", path, fp)
    if fp is not None and key in _SIDECAR_MEMO:
        return _SIDECAR_MEMO[key]  # type: ignore[return-value]
    got = int(spark.read.parquet(path + "/_centroids").count())
    if fp is not None:
        _SIDECAR_MEMO[key] = got
    return got


_stored_n_cells = _pq_ivf_n_cells  # layout-neutral name for IVF callers


def _stored_seed(spark, path: str) -> int:
    """Build seed recorded in the {path}/_meta sidecar (r12 advice): the
    two-level tier derives its coarse model from xxhash64(cell, seed+101),
    so serve/append probing with a DIFFERENT seed than the build would
    route queries through a different coarse model than the stored
    assignments — silently degrading recall agreement with no error.
    Threading the stored seed makes non-default-seed stores correct by
    construction. A pre-r13 store (no _meta, or a residual-only _meta)
    reads as 42, which preserves pre-r13 serve behavior (those serves
    always probed with the default): for the common default-seed store
    that is also the build seed; a pre-r13 store built with an explicit
    seed != 42 keeps its historical coarse-model mismatch — rebuilding
    (or writing a _meta sidecar by hand) is the upgrade path, and the
    mismatch is bounded to recall agreement, never correctness of the
    returned rows. Memoized per on-disk fingerprint like
    _pq_read_books."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    fp = _sidecar_fingerprint(path + "/_meta")
    key = ("seed", path, fp)
    if fp is not None and key in _SIDECAR_MEMO:
        return _SIDECAR_MEMO[key]  # type: ignore[return-value]
    meta = _try_read_parquet(spark, path + "/_meta")
    if meta is None or "seed" not in meta.columns:
        got = 42
    else:
        rows = meta.collect()
        got = int(rows[0]["seed"]) if rows else 42
    if fp is not None:
        _SIDECAR_MEMO[key] = got
    return got


def pq_ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold new vectors into an IVF-PQ index under its STORED model
    (centroids define the cells, codebooks define the codes — the same
    consistency rule as ivf_index_append / pq_index_append). Cost is
    O(batch); the append is cell-clustered before the partitioned write
    so a long history grows by one file per touched cell per batch.
    Model drift policy is rebuild-on-recall-degradation, as for the
    parent stores. A residual index (_meta sidecar) encodes the new
    vectors' residuals under the stored centroids + codebooks — the
    same stored-model rule, one more broadcast join."""
    spark = new_vectors.sparkSession
    cents = spark.read.parquet(path + "/_centroids")
    books = _pq_read_books(spark, path)
    stored_cells = _pq_ivf_n_cells(spark, path)
    over_budget = stored_cells > _DRIVER_MODEL_CELL_BUDGET
    if over_budget:
        assigned = _two_level_assign(
            new_vectors, cents, stored_cells, id_col, vec_col, "v",
            seed=_stored_seed(spark, path),
        ).select(
            F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "cell"
        )
    else:
        assigned = _assign_nearest(
            new_vectors, cents.collect(), id_col, vec_col, "v"
        ).select(F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "cell")
    if _pq_ivf_is_residual(spark, path):
        assigned = _with_residual(
            assigned, cents, vec_col, hint_broadcast=not over_budget
        )
        enc = pq_encode(assigned, books, id_col, "_resid", keep=("cell",))
    else:
        enc = pq_encode(assigned, books, id_col, vec_col, keep=("cell",))
    (
        append_v1(
            enc.select(id_col, "codes", "cell")
            .repartition(F.col("cell"))
            .write.partitionBy("cell")
            .mode("append")
        ).parquet(path + "/codes")
    )


def pq_ivf_index_compact(
    spark, path: str, exclude_tags: set[str] | None = None
) -> tuple[int, int]:
    """Fold an IVF-PQ index's append history back to one right-sized
    file per cell — unlike pq_index_compact (flat fold: the exhaustive
    scan has no partition level), this keeps the cell partitioning that
    makes probes cheap. Same crash-safe temp-write + rename-aside swap
    as ivf_index_compact; the _centroids/_codebooks/_meta sidecars live
    beside /codes, not inside it, so they ride through untouched.
    Returns (files_before, files_after).

    If the store carries streaming increment trees ({path}/codes/_inc,
    written by streaming/ann_stream.py's PQ mode), they are folded into
    the cell-partitioned base and dropped — the underscore tree lives
    INSIDE /codes, so the one rename-aside swap replaces base and
    increments atomically (no crash window where probes see a folded
    copy beside an unfolded one). The fold full-row-deduplicates, so a
    re-run over any crash leftover converges.

    `exclude_tags` (the streaming auto-compaction contract): increment
    partitions under the named ingest_batch tags — only the in-flight
    batch can ever replay — are NOT folded; they are carried verbatim
    into the compacted tree's /codes/_inc, so a crash-replay's dynamic
    partition overwrite still replaces exactly its own rows."""
    from ct_mapreduce_spark.fsutil import (
        TMP_SUFFIX,
        count_parquet_files,
        recover_swap,
        swap_into_place,
    )
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    codes_p = path + "/codes"
    recover_swap(spark, codes_p)
    inc_p = codes_p + "/_inc"
    before = count_parquet_files(spark, codes_p) + count_parquet_files(
        spark, inc_p
    )
    df = spark.read.parquet(codes_p)
    inc = _try_read_parquet(spark, inc_p)
    exclude = {str(t) for t in (exclude_tags or ())}
    keep_inc = None
    folded_tags = _folded_tags_read(spark, path)
    if inc is not None:
        fold = inc
        if exclude and "ingest_batch" in inc.columns:
            tag_str = F.col("ingest_batch").cast("string")
            keep_inc = inc.where(tag_str.isin(sorted(exclude)))
            fold = inc.where(~tag_str.isin(sorted(exclude)))
        df = df.unionByName(fold.select(*df.columns)).dropDuplicates()
        folded_tags |= _inc_tags_listed(spark, inc_p) - exclude
    (
        df.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(codes_p + TMP_SUFFIX)
    )
    if keep_inc is not None:
        # the in-flight batch's increment rides through the swap inside
        # the new codes tree; written before the swap so every read of
        # the old tree completes first
        keep_inc.write.mode("overwrite").partitionBy("ingest_batch").parquet(
            codes_p + TMP_SUFFIX + "/_inc"
        )
    swap_into_place(spark, codes_p + TMP_SUFFIX, codes_p)
    if folded_tags:
        # manifest lives BESIDE /codes (like _centroids/_codebooks), so
        # the codes swap never touches it; written after the swap — the
        # set was collected to the driver above, so overwriting the path
        # it was read from is safe, and a crash in between only loses
        # the heal trigger, never correctness
        _folded_tags_frame(spark, folded_tags).write.mode(
            "overwrite"
        ).parquet(path + "/_folded_tags")
    return before, count_parquet_files(spark, codes_p) + count_parquet_files(
        spark, inc_p
    )


def pq_ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve ANN queries from a materialized pq_ivf_build_index: assign
    each query its n_probe nearest cells from the stored centroids
    (broadcast-centroid crossJoin — ivf_topk_indexed's probe shape; a
    store past _DRIVER_MODEL_CELL_BUDGET probes through the two-level
    tier instead, keeping the driver's model copy sqrt-sized),
    partition-prune the codes table to the probed cells (the cell
    IN-list lands in PartitionFilters, asserted in tests), then run the
    shared _pq_adc_rank expressions restricted to (query, probed-cell)
    pairs. Probe cost tracks n_probe/n_cells of the CODES table — 8
    bytes/row of the probed fraction of the corpus, the two prunings
    (IVF cell + PQ compression) multiplied. ADC scores are bit-identical
    to pq_topk on the candidates both admit (same expressions, same
    stored-model parameters); candidates outside the probed cells are
    the IVF recall trade, gated by recall tests like ivf_topk's.
    rerank_factor > 0 requires rerank_corpus (full vectors are not in
    the index): exact-cosine re-rank reads only the shortlist sliver.

    A residual index (_meta sidecar, pq_ivf_build_index residual=True)
    serves with the IVFADC decomposition: LUTs are built from the RAW
    query sub-vectors exactly as usual (inner products distribute over
    subspaces), and the per-(query, probed-cell) <q, centroid> term —
    computed once in the probe-assignment crossJoin, n_queries x
    n_probe doubles — is added back before the single rounding."""
    if rerank_factor and rerank_corpus is None:
        raise ValueError("rerank_factor > 0 requires rerank_corpus")
    books = _pq_read_books(spark, path)
    cents = spark.read.parquet(path + "/_centroids")
    residual = _pq_ivf_is_residual(spark, path)
    stored_cells = _pq_ivf_n_cells(spark, path)
    if stored_cells > _DRIVER_MODEL_CELL_BUDGET:
        # two-level query probes (r12, the last centroid consumer off
        # the budget dispatch): an IVFADC store at the 100 TB posture
        # wants ~sqrt(N) >> 4096 cells, so the stored model must stay
        # distributed — only the sqrt-sized coarse model reaches the
        # driver (_two_level_assign; ivf_topk_indexed's probe shape).
        # The residual base term <q, centroid> is projected by joining
        # the n_queries x n_probe probe pairs BACK to the distributed
        # centroid frame (probe side broadcast, model side streamed) —
        # the same _dot expression as the literal tier below, so base
        # values are bit-identical for identical (query, cell) pairs.
        qa2 = _two_level_assign(
            queries, cents, stored_cells, id_col, vec_col, "query",
            t=n_probe, seed=_stored_seed(spark, path),
        )
        if residual:
            # no broadcast hint (r12 advice): unlike the literal tier's
            # fixed-size centroid broadcast this side is n_queries x
            # n_probe rows CARRYING FULL QUERY VECTORS — it scales with
            # the batch, and the over-budget tier exists precisely for
            # the largest deployments. AQE broadcasts it anyway when a
            # batch is actually small (the same posture as
            # _with_residual's over-budget branch above).
            qa = cents.join(
                qa2.select("query_id", "query_vec", "cell"),
                "cell",
            ).select(
                "query_id",
                "cell",
                _dot(F.col("query_vec"), F.col("centroid")).alias("base"),
            )
        else:
            qa = qa2.select("query_id", "cell")
    else:
        # probe assignment: rank cells by (-cosine, cell) per query —
        # the _assign_probes rule, inlined so the residual tier can also
        # project the <q, centroid> base term from the same crossJoin
        # row; fan_out for the same single-task-batch reason (r13),
        # thresholded so the pinned 16-cell plans stay exchange-free
        probe_src = queries
        if stored_cells >= _PROBE_FANOUT_MIN_CELLS:
            from ct_mapreduce_spark.operators.util import fan_out

            probe_src = fan_out(queries)
        joined = probe_src.crossJoin(F.broadcast(cents)).withColumn(
            "dist", -cosine(F.col(vec_col), F.col("centroid"))
        )
        w = W.partitionBy(id_col).orderBy("dist", "cell")
        ranked = (
            joined.withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= n_probe)
        )
        pp_cols = [F.col(id_col).alias("query_id"), F.col("cell")]
        if residual:
            pp_cols.append(
                _dot(F.col(vec_col), F.col("centroid")).alias("base")
            )
        qa = ranked.select(*pp_cols)
    probe_pairs = qa
    # literal IN-list so the parquet source prunes cell directories
    probe_cells = sorted(
        {r["cell"] for r in qa.select("cell").distinct().collect()}
    )
    codes_base = spark.read.parquet(path + "/codes").where(
        F.col("cell").isin(probe_cells)
    )
    # streaming increments ({path}/codes/_inc, ann_stream.py PQ mode):
    # the base partition-prunes on cell, the small increments row-filter
    # on their cell DATA column — the base ∪ increments probe the IVF
    # and dedup stores already serve
    from ct_mapreduce_spark.operators.dedup_fuzzy import _try_read_parquet

    inc = _try_read_parquet(spark, path + "/codes/_inc")
    if inc is not None:
        codes_base = codes_base.unionByName(
            inc.where(F.col("cell").isin(probe_cells)).select(
                *codes_base.columns
            )
        )
    codes = codes_base.select(
        F.col(id_col).alias("neighbor_id"), "codes", "cell"
    )
    return _pq_adc_rank(
        codes, queries, books, k, id_col, vec_col,
        rerank_corpus=rerank_corpus, rerank_factor=rerank_factor,
        probe_pairs=probe_pairs, n_probe=n_probe,
    )


def cluster_balanced_sample(
    emb: DataFrame,
    n_cells: int = 16,
    target_shares: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Topic-balance a corpus by embedding cluster: assign each vector
    its nearest seeded cell (the IVF assignment rule — narrow, no
    corpus shuffle) and deterministically downsample to the target
    cell mixture (sampling.mixture_rebalance: default uniform over
    observed cells, or explicit shares keyed by cell id). The
    data-mixing move for semantic balance — e.g. keep a web crawl from
    being 60% one topic cluster before training — composed from the
    engine's existing pieces so membership is a pure function of
    (seed, corpus): engine/partitioning/growth-stable, golden-pinnable.

    Returns the kept (id, cell) rows. Plan: centroid pick (model-sized
    driver literal), narrow argmin assignment, one map-side-combined
    count per cell, broadcast keep-prob join, scan-local md5 filter —
    the corpus never shuffles."""
    from ct_mapreduce_spark.operators.sampling import mixture_rebalance

    cents = _ivf_centroid_frame(emb, n_cells, id_col, vec_col, seed)
    # materialized: mixture_rebalance joins the frame back to its own
    # per-cell counts, and a self-join of an Arrow-UDF-derived frame
    # re-executes the assignment on both sides (no exchange reuse under
    # AQE broadcast) — measured ~2x the wall at the x10 soak rung.
    # _assign_cells_auto keeps the driver model sublinear above the
    # cell budget (r10 two-level tier).
    av, _ = _assign_cells_auto(emb, cents, n_cells, id_col, vec_col, "v", seed)
    assigned = av.select(F.col("v_id").alias(id_col), "cell").localCheckpoint(
        eager=True
    )
    shares = (
        None
        if target_shares is None
        else {int(k): float(v) for k, v in target_shares.items()}
    )
    return mixture_rebalance(assigned, "cell", id_col, target_shares=shares)
