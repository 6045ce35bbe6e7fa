"""N-gram language-model quality scoring (CCNet-style perplexity filter).

The classic web-corpus quality gate (Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data"): train
a small language model on a trusted reference corpus, score every crawled
document by its per-token cross-entropy under that model, and keep the
low-perplexity (reference-like) fraction. This module implements the
distributed unigram form:

- **Train** (`lm_train_unigram`): one map-side-combined token count over
  the reference corpus, add-one smoothing over the kept vocabulary plus a
  single OOV outcome. Tokens rarer than `min_count` fold into the OOV
  mass — at 100 TB the hapax tail IS most of the raw vocabulary, and
  folding it is what keeps the model table sublinear in the corpus.
- **Score** (`lm_score`): explode tokens, join the model (broadcast by
  default — the model is vocabulary-sized, not corpus-sized), and sum
  per-token log-probabilities per document. The groupBy's map-side
  combine collapses each document's token rows locally, so the shuffle
  carries ONE narrow row per document.

Determinism contract (the repo-wide exact-arithmetic rule, the DSIR
device from operators/selection.py): each token's log-probability is
rounded ONCE to an integer micro-nat (`round(ln(p) * 1e6)` as BIGINT)
inside the model table. Document totals are then pure integer sums —
order-independent regardless of how either engine schedules the
aggregation — and the per-token cross-entropy is an exact integer
division (`DIV`), so the Spark plan and the DuckDB oracle hash-match
bit-for-bit. Floats never survive past the model-sized table.

Smoothing: with V kept vocabulary tokens, total reference token count T
(including dropped tokens) and dropped mass D = sum of counts below
`min_count`,

    P(w)   = (n_w + 1) / (T + V + 1)      for kept tokens
    P(oov) = (D + 1)   / (T + V + 1)

which normalizes exactly: sum over kept (n+1) + (D+1) = T + V + 1. The
OOV row is stored in the model table under the sentinel token '' (the
tokenizer never emits an empty token — scoring strips them — so the
sentinel cannot collide).

No reference analog (jcjones/ct-mapreduce has no corpus-quality concept);
extends the LLM-pipeline suite alongside selection.py / text.py.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ct_mapreduce_spark.operators.text import tokens

OOV_TOKEN = ""

#: Stupid-backoff penalty (Brants et al. 2007 use alpha = 0.4), rounded
#: ONCE to integer micro-nats so backed-off token scores stay exact
#: integer sums: score = ALPHA_MICRO + unigram logp_micro.
BACKOFF_ALPHA_MICRO = round(math.log(0.4) * 1_000_000)


def lm_train_unigram(
    corpus: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Train the unigram model: one row per kept vocabulary token
    (token, n, logp_micro) plus the OOV sentinel row (token='',
    n=dropped-mass, logp_micro=OOV log-probability).

    Plan shape: explode -> ONE map-side-combined groupBy(token) shuffle,
    then the vocabulary frame is localCheckpointed — training is an
    eager step by contract, and the checkpoint is what guarantees the
    corpus is scanned ONCE even though three downstream branches (kept
    rows, totals, OOV row) read the counts. The T/V/D totals are a
    single-row aggregate cross-joined back (broadcast — one row). No
    window anywhere, nothing corpus-sized leaves the executors."""
    toks = (
        corpus.select(
            F.explode(F.array_remove(tokens(text_col), "")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    return _unigram_from_counts(toks, min_count)


def _unigram_from_counts(toks: DataFrame, min_count: int) -> DataFrame:
    """The model-building half of lm_train_unigram over a materialized
    (token, n) count frame — shared with lm_train_joint so the joint
    single-scan trainer is bit-identical by construction."""
    mc = int(min_count)
    tot = toks.agg(
        F.sum("n").cast("long").alias("t_all"),
        F.count(F.when(F.col("n") >= mc, 1)).cast("long").alias("v"),
        F.coalesce(F.sum(F.when(F.col("n") < mc, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("d"),
    )

    def _logp_micro(num_count):
        denom = (
            F.col("t_all").cast("double")
            + F.col("v").cast("double")
            + F.lit(1.0)
        )
        p = (num_count.cast("double") + F.lit(1.0)) / denom
        return F.round(F.log(p) * F.lit(1_000_000.0)).cast("long")

    kept = (
        toks.where(F.col("n") >= mc)
        .crossJoin(F.broadcast(tot))
        .select("token", "n", _logp_micro(F.col("n")).alias("logp_micro"))
    )
    oov = tot.select(
        F.lit(OOV_TOKEN).alias("token"),
        F.col("d").alias("n"),
        _logp_micro(F.col("d")).alias("logp_micro"),
    )
    return kept.unionByName(oov)


def _oov_frame(lm: DataFrame) -> DataFrame:
    """The model's OOV sentinel row as a one-row (oov_micro) frame,
    VALIDATED: every per-token score cross-joins this frame, so a model
    table missing the '' sentinel (hand-built, over-filtered, or a
    partially-written artifact) would make the cross join empty and
    silently score ZERO documents — the whole corpus filtered away with
    no error. Fail fast instead: exactly one OOV row or ValueError. The
    check is one bounded driver action over the vocabulary-sized model
    (limit-2 count), paid once per scoring-plan build."""
    rows = lm.where(F.col("token") == OOV_TOKEN).select(
        F.col("logp_micro").alias("oov_micro")
    )
    n = rows.limit(2).count()
    if n != 1:
        raise ValueError(
            f"malformed LM model: expected exactly one OOV sentinel row "
            f"(token == {OOV_TOKEN!r}), found {n} — scoring would "
            "silently drop every document. Retrain with lm_train_unigram "
            "or repair the persisted model artifact."
        )
    return rows


def lm_score(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under a trained unigram model:
    (id, n_tokens, logp_total_micro, xent_micro) where xent_micro is the
    mean negative log-probability per token in integer micro-nats
    (exact DIV — both engines floor the positive quotient identically).
    Documents with no tokens score (0, 0, 0).

    `broadcast_lm=False` switches to a plain shuffle join for models too
    large to broadcast (e.g. char-ngram models over enormous alphabets);
    the default broadcast is the 100 TB posture — the model is
    vocabulary-sized, the corpus side never moves for the join."""
    vocab = lm.where(F.col("token") != OOV_TOKEN).select("token", "logp_micro")
    if broadcast_lm:
        vocab = F.broadcast(vocab)
    oov = F.broadcast(_oov_frame(lm))
    g = docs.select(
        F.col(id_col),
        F.explode_outer(F.array_remove(tokens(text_col), "")).alias("token"),
    )
    scored = (
        g.join(vocab, "token", "left")
        .crossJoin(oov)
        .groupBy(id_col)
        .agg(
            F.count("token").cast("long").alias("n_tokens"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("token").isNotNull(),
                        F.coalesce("logp_micro", "oov_micro"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("logp_total_micro"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        "logp_total_micro",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (-logp_total_micro) DIV n_tokens "
            "ELSE CAST(0 AS BIGINT) END"
        )
        .cast("long")
        .alias("xent_micro"),
    )


def lm_terciles(
    scores: DataFrame,
    xent_col: str = "xent_micro",
    id_col: str = "doc_id",
    exact: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket every document by where
    its cross-entropy falls against the corpus's terciles (head = most
    reference-like third). Returns (id, xent, ppl_bucket).

    Default tier is approx_percentile — a bounded-memory mergeable
    sketch, the only viable cut estimator at 100 TB. `exact=True`
    switches to the exact interpolated percentile (single aggregation
    buffer — fine up to memory, and bit-identical to DuckDB's
    quantile_cont, which is what the registry oracle compares). Both
    tiers compute the two cuts as a ONE-ROW aggregate broadcast back
    over the corpus — no global sort, no window; empty-document scores
    (xent 0) land in 'head' by construction (documented: gate on
    n_tokens upstream if unwanted).

    The scores frame has two consumers (the cuts aggregate and the
    labeling pass), so it is localCheckpointed here — without that an
    upstream scoring pipeline would execute twice."""
    scores = scores.localCheckpoint()
    x = F.col(xent_col)
    if exact:
        cuts = scores.agg(
            F.expr(
                f"percentile({xent_col}, array(1.0D/3.0D, 2.0D/3.0D))"
            ).alias("_c")
        )
    else:
        cuts = scores.agg(
            F.percentile_approx(
                x, F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(10000)
            ).alias("_c")
        )
    bucket = (
        F.when(x.cast("double") <= F.col("_c")[0], F.lit("head"))
        .when(x.cast("double") <= F.col("_c")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scores.crossJoin(F.broadcast(cuts))
        .select(id_col, xent_col, bucket.alias("ppl_bucket"))
    )


def token_drift(
    docs: DataFrame,
    target,
    text_col: str = "text",
    top_k: int = 25,
) -> DataFrame:
    """Token-distribution drift report: the per-token KL(P||Q)
    contributions between the `target` slice (boolean Column) and the
    rest of the corpus — the monitoring table that answers "what changed
    between this crawl drop and the last one" / "how does my mixture
    differ from the reference". Top `top_k` tokens by contribution.

    With add-one smoothing over the shared vocabulary V:
        p = (n_a + 1) / (T_a + V),  q = (n_b + 1) / (T_b + V)
        contribution = p * ln(p / q)
    rounded ONCE to integer nano-units (`round(... * 1e9)` as BIGINT),
    ranked (kl_nano DESC, token ASC) — deterministic across engines:
    the log ratio is one product-over-product division (the DSIR
    device) so both sides evaluate the identical IEEE tree.

    Plan: ONE explode + conditional-count groupBy(token) pass (the
    target is a flag, not a second frame), localCheckpointed so the
    totals aggregate and the final projection read the vocabulary frame
    without re-scanning the corpus; totals are a one-row broadcast. The
    ranking input is vocabulary-sized."""
    flag = target
    counts = (
        docs.select(
            flag.alias("_is_a"),
            F.explode(F.array_remove(tokens(text_col), "")).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.count(F.when(F.col("_is_a"), 1)).cast("long").alias("n_a"),
            F.count(F.when(~F.col("_is_a"), 1)).cast("long").alias("n_b"),
        )
        .localCheckpoint()
    )
    tot = counts.agg(
        F.sum("n_a").cast("long").alias("t_a"),
        F.sum("n_b").cast("long").alias("t_b"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    na1 = F.col("n_a").cast("double") + F.lit(1.0)
    nb1 = F.col("n_b").cast("double") + F.lit(1.0)
    ta_v = F.col("t_a").cast("double") + F.col("v").cast("double")
    tb_v = F.col("t_b").cast("double") + F.col("v").cast("double")
    p = na1 / ta_v
    kl_nano = F.round(
        p * F.log((na1 * tb_v) / (nb1 * ta_v)) * F.lit(1_000_000_000.0)
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select("token", "n_a", "n_b", kl_nano.alias("kl_nano"))
        .orderBy(F.col("kl_nano").desc(), "token")
        .limit(int(top_k))
    )


def _token_pairs(text_col: str):
    """(prev, cur) stream over a document's tokens as an array of
    2-field structs: one element per token POSITION, with prev NULL for
    the first token. Built by zipping the token array against a
    NULL-prefixed shifted copy — the gram_stream device (arrays_zip of
    shifted slices; the slice-inside-lambda form re-traverses the array
    per element and measured 4.5x slower). Empty documents produce a
    [(' prev'=NULL, cur=NULL)]-shaped degenerate element or an
    explode_outer NULL; both are filtered by `cur IS NOT NULL`
    downstream, so no special-casing here."""
    t = F.array_remove(tokens(text_col), "")
    n = F.size(t)
    prevs = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
    )
    return F.arrays_zip(prevs.alias("prev"), t.alias("cur"))


def lm_train_bigram(
    corpus: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Train the stupid-backoff bigram table (Brants et al. 2007, "Large
    Language Models in Machine Translation"): one row per kept bigram
    (w1, w2, n, logs_micro) where

        logs_micro = round(ln(n / n_ctx) * 1e6)   as BIGINT

    and n_ctx is w1's total count as a bigram context (summed over ALL
    pairs, BEFORE the min_count filter — so kept scores are true
    relative frequencies, not renormalized over survivors). Stupid
    backoff is the published web-scale choice precisely because it needs
    no normalization pass: the score is a relative frequency, pairs
    rarer than `min_count` simply fall back to alpha * unigram at
    scoring time, and the KEPT table stays bounded (the bigram hapax
    tail dominates the raw pair vocabulary at 100 TB exactly as the
    unigram tail does).

    Plan shape: one explode of the zipped pair stream -> map-side-
    combined groupBy(w1, w2) shuffle, localCheckpointed (two consumers:
    the context totals and the kept rows — the corpus is scanned once);
    context totals are a second vocabulary-sized groupBy on the
    CHECKPOINTED counts, joined back on w1. Nothing corpus-sized ever
    reaches the driver; only the kept (post-min_count) table needs to
    broadcast at scoring time."""
    pc = (
        corpus.select(F.explode(_token_pairs(text_col)).alias("s"))
        .select(F.col("s.prev").alias("w1"), F.col("s.cur").alias("w2"))
        .where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    ctx = pc.groupBy("w1").agg(F.sum("n").cast("long").alias("n_ctx"))
    logs = F.round(
        F.log(F.col("n").cast("double") / F.col("n_ctx").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    return (
        pc.where(F.col("n") >= int(min_count))
        .join(ctx, "w1")
        .select("w1", "w2", "n", logs.alias("logs_micro"))
    )


def lm_train_joint(
    corpus: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train the unigram AND bigram models from ONE corpus scan (r9
    verdict task 7 — the backoff gate previously paid two): every token
    position appears exactly once as `cur` in the zipped pair stream
    (_token_pairs: prev NULL marks a document's first token), so the
    unigram counts are a vocabulary-sized groupBy over the PAIR-COUNT
    frame — sum of n by w2 — not a second pass over the corpus.

    Returns (unigram, bigram) frames BIT-IDENTICAL to lm_train_unigram /
    lm_train_bigram on the same corpus (tier-equality pytest): the
    bigram side filters the NULL-prev first-position rows exactly as
    lm_train_bigram's where-clause did, and the unigram model builds
    from the derived counts via the shared _unigram_from_counts.

    Plan shape: one explode of the pair stream -> map-side-combined
    groupBy(w1, w2) shuffle, localCheckpointed (three consumers: unigram
    counts, bigram context totals, kept bigram rows); everything after
    is pair-vocabulary-sized. The pair table is larger than the token
    vocabulary (bigram hapax tail) but still model-scale vs the corpus —
    the trade that buys back a full corpus scan."""
    pc = (
        corpus.select(F.explode(_token_pairs(text_col)).alias("s"))
        .select(F.col("s.prev").alias("w1"), F.col("s.cur").alias("w2"))
        .where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    toks = (
        pc.groupBy(F.col("w2").alias("token"))
        .agg(F.sum("n").cast("long").alias("n"))
        .localCheckpoint()
    )
    uni = _unigram_from_counts(toks, min_count)
    bi_pc = pc.where(F.col("w1").isNotNull())
    ctx = bi_pc.groupBy("w1").agg(F.sum("n").cast("long").alias("n_ctx"))
    logs = F.round(
        F.log(F.col("n").cast("double") / F.col("n_ctx").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    bi = (
        bi_pc.where(F.col("n") >= int(min_count))
        .join(ctx, "w1")
        .select("w1", "w2", "n", logs.alias("logs_micro"))
    )
    return uni, bi


def lm_score_backoff(
    docs: DataFrame,
    lm_uni: DataFrame,
    lm_bi: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_micro: int = BACKOFF_ALPHA_MICRO,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under the stupid-backoff bigram model:
    each token position scores

        bigram logs_micro                      if (prev, cur) is in lm_bi
        alpha_micro + unigram logp_micro(cur)  otherwise (backoff)
        unigram logp_micro(cur)                for the first token

    with unigram logp falling back to the OOV sentinel row exactly as
    `lm_score`. Output schema matches lm_score: (id, n_tokens,
    logp_total_micro, xent_micro), empty documents scoring (0, 0, 0).
    All per-token scores are integers rounded once inside the model
    tables, so document totals are order-independent exact sums and the
    DuckDB oracle hash-matches.

    Plan: ONE explode of the (prev, cur) pair stream -> two broadcast
    joins (the bigram table on (w1, w2), the unigram vocabulary on cur)
    -> map-side-combined groupBy(doc): the shuffle carries one narrow
    row per document. `broadcast_lm=False` is the escape hatch when the
    kept bigram table outgrows broadcast range (train with a higher
    min_count first — that is the published posture)."""
    vocab = lm_uni.where(F.col("token") != OOV_TOKEN).select(
        F.col("token").alias("cur"), F.col("logp_micro").alias("uni_micro")
    )
    bi = lm_bi.select(
        F.col("w1").alias("prev"),
        F.col("w2").alias("cur"),
        F.col("logs_micro").alias("bi_micro"),
    )
    if broadcast_lm:
        vocab, bi = F.broadcast(vocab), F.broadcast(bi)
    oov = F.broadcast(_oov_frame(lm_uni))
    g = docs.select(
        F.col(id_col), F.explode_outer(_token_pairs(text_col)).alias("s")
    ).select(id_col, F.col("s.prev").alias("prev"), F.col("s.cur").alias("cur"))
    uni_cur = F.coalesce("uni_micro", "oov_micro")
    score = F.when(F.col("prev").isNull(), uni_cur).otherwise(
        F.coalesce("bi_micro", F.lit(int(alpha_micro)) + uni_cur)
    )
    scored = (
        g.join(bi, ["prev", "cur"], "left")
        .join(vocab, "cur", "left")
        .crossJoin(oov)
        .groupBy(id_col)
        .agg(
            F.count("cur").cast("long").alias("n_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("cur").isNotNull(), score)), F.lit(0)
            )
            .cast("long")
            .alias("logp_total_micro"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        "logp_total_micro",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (-logp_total_micro) DIV n_tokens "
            "ELSE CAST(0 AS BIGINT) END"
        )
        .cast("long")
        .alias("xent_micro"),
    )


def lm_filter(
    docs: DataFrame,
    lm: DataFrame,
    max_xent_micro: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_lm: bool = True,
) -> DataFrame:
    """The keep/drop form: documents whose per-token cross-entropy under
    the model stays at or below `max_xent_micro` (micro-nats/token) —
    CCNet's head/middle cut with an explicit threshold instead of a
    corpus-relative percentile, so the decision is per-document and
    deterministic (no corpus-wide quantile pass on the serve path).
    Empty documents score 0 and therefore pass; gate on n_tokens
    upstream if that is not wanted. Returns the input rows plus
    (n_tokens, xent_micro)."""
    scores = lm_score(
        docs, lm, text_col=text_col, id_col=id_col, broadcast_lm=broadcast_lm
    )
    return docs.join(
        scores.where(F.col("xent_micro") <= int(max_xent_micro)),
        id_col,
    )


def lm_gate_model(
    spark,
    model_path: str | None,
    order: int = 1,
    reference: Callable[[], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The perplexity gate's model as (unigram table, bigram table or
    None); score with lm_score_backoff when the bigram table is present,
    lm_score otherwise.

    Persisted layout: the unigram table at `model_path`; at order 2 the
    bigram table at the SIBLING path `{model_path}_bi` (a subdirectory
    would corrupt the unigram parquet read). A persisted model is loaded
    (existence checked through the Hadoop FileSystem API, so remote
    paths load too). Asking order 2 of a model persisted at order 1 is a
    hard error, never a silent unigram fallback.

    With no persisted model, `reference()` supplies the training corpus
    (min_count=2, lm_train_joint at order 2 — one scan for both tables)
    and the model is saved to `model_path` when one is given, so later
    runs score under the SAME model. Without `reference` a missing model
    is an error: serve-only callers (the dedup daemon) never train."""
    from ct_mapreduce_spark.fsutil import path_exists

    bi_path = None if model_path is None else model_path + "_bi"
    if model_path is not None and path_exists(spark, model_path + "/_SUCCESS"):
        model = spark.read.parquet(model_path)
        if order != 2:
            return model, None
        if not path_exists(spark, bi_path + "/_SUCCESS"):
            raise ValueError(
                f"lm_order=2 but {bi_path} has no bigram table: "
                "the persisted model was trained at order 1. "
                "Delete the lm_model artifact to retrain both, "
                "or run with lm_order=1."
            )
        return model, spark.read.parquet(bi_path)
    if reference is None:
        raise ValueError(
            f"no persisted language model at {model_path}: train one "
            "(operators/lm.py) and save it there first"
        )
    ref = reference()
    if order == 2:
        model, bi = lm_train_joint(ref, min_count=2)
    else:
        model, bi = lm_train_unigram(ref, min_count=2), None
    if model_path is not None:
        model.coalesce(1).write.mode("overwrite").parquet(model_path)
        model = spark.read.parquet(model_path)
        if bi is not None:
            bi.coalesce(1).write.mode("overwrite").parquet(bi_path)
            bi = spark.read.parquet(bi_path)
    return model, bi
