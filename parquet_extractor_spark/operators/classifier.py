"""Distributed quality-classifier TRAINING: logistic regression by
integer-exact batch gradient descent.

The pipeline step the engine could previously only *score*
(quality.quality_classifier_scores applies fixed weights — the
FineWeb/DCLM-style gate): here the weights are LEARNED from the
corpus, demonstrating the second iterative-algorithm shape after
Lloyd's k-means (similarity.kmeans_refine):

- the per-doc feature projection is a pure codegen'd expression chain
  (tokenize → length/diversity/word-shape features), persisted once
  and reused by every epoch;
- each epoch is ONE partial+final aggregation producing the 4-component
  gradient and the epoch loss — shuffle volume is 5 numbers per
  partition, independent of corpus size;
- the weight update runs driver-side on those 5 numbers and re-enters
  the next epoch's plan as literals — the same sync-point shape as
  kmeans_refine's centroid hop (bytes, not data, at 100 TB).

Cross-engine determinism (the dedup/selection micro-unit trick, one
level deeper because the algorithm is iterative): per-doc gradient
contributions and losses are quantized to integer micro-units BEFORE
the distributed sum, so the aggregation is an order-independent
integer sum; margins and probabilities round(9) before use
(absorbing partial-sum reorder jitter exactly like kmeans_refine's
distance rounding); weight updates are floor-based integer arithmetic
mirrored literally by the DuckDB oracle's unrolled epoch CTEs (the
dedup_graph_pagerank pattern).

Labels here are a deterministic heuristic (length ≥ LABEL_MIN_TOKENS
and token-diversity ≥ LABEL_MIN_DIVERSITY) so the fixture and the
oracle agree bit-for-bit; in production the label column comes from
human/LLM annotations and nothing else changes.

Reference scope: the reference repo has no model training (north-star
extension, same status as the dedup/similarity tiers).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import tokenize, tokenize_sql
from parquet_extractor_spark.session import materialize, release
from parquet_extractor_spark.sources.tables import load_table, local_frame

LOGREG_ITERS = 3
LOGREG_LR = 2.0
LABEL_MIN_TOKENS = 40
LABEL_MIN_DIVERSITY = 0.7
N_FEATURES = 4  # bias, capped length, diversity, mean word length


def _feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x0..x3, y) per document — one codegen'd projection,
    no UDF.

    x0 bias; x1 = min(n_tokens,100)/100; x2 = distinct-token ratio;
    x3 = mean token length / 10. Every feature round(6) so both
    engines bucket identically; the label reuses the ROUNDED x2 so
    there is exactly one definition of diversity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("tokens"))
    n = F.size("tokens")
    x2 = F.round(
        F.size(F.array_distinct("tokens")) / n.cast("double"), 6
    )
    return (
        toks.filter(n > 0)
        .select(
            "doc_id",
            F.lit(1.0).alias("x0"),
            F.round(F.least(n, F.lit(100)) / F.lit(100.0), 6).alias("x1"),
            x2.alias("x2"),
            F.round(
                F.length(F.concat_ws("", F.col("tokens")))
                / n.cast("double")
                / F.lit(10.0),
                6,
            ).alias("x3"),
            (
                (n >= LABEL_MIN_TOKENS) & (x2 >= LABEL_MIN_DIVERSITY)
            ).cast("int").alias("y"),
        )
    )


def _train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], list[int]]:
    """Run the GD epochs; return (per-epoch rows, final micro
    weights). Shared by the training-curve query and the scoring
    query — and persisted per (data dir, code version): the gradient
    descent is integer-deterministic, so the curve query and the
    scoring query in one sweep train the model once between them
    (store.memo_artifact)."""
    from parquet_extractor_spark.store import memo_artifact

    return memo_artifact(
        spark,
        sf_dir,
        "logreg_train",
        lambda: _train_uncached(spark, sf_dir),
    )


def _train_uncached(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], list[int]]:
    feats = materialize(_feature_frame(spark, sf_dir))
    n_docs = feats.count()
    w = [0] * N_FEATURES  # micro-units
    rows = []
    for it in range(1, LOGREG_ITERS + 1):
        margin = F.round(
            sum(
                (F.lit(w[j] / 1e6) * F.col(f"x{j}"))
                for j in range(N_FEATURES)
            ),
            9,
        )
        step = feats.withColumn("margin", margin).withColumn(
            "p",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9
            ),
        )
        aggs = [
            F.sum(
                F.floor(
                    (F.col("p") - F.col("y"))
                    * F.col(f"x{j}")
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias(f"g{j}")
            for j in range(N_FEATURES)
        ]
        aggs.append(
            F.sum(
                F.floor(
                    F.when(
                        F.col("y") == 1, -F.log(F.col("p"))
                    ).otherwise(-F.log(F.lit(1.0) - F.col("p")))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("loss")
        )
        stats = step.agg(*aggs).first()
        for j in range(N_FEATURES):
            w[j] -= math.floor(
                LOGREG_LR * int(stats[f"g{j}"]) / n_docs + 0.5
            )
        rows.append((it, int(stats["loss"]), *w))
    release(feats)
    return rows, w


def train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGREG_ITERS unrolled GD epochs; output one row per epoch:
    (iteration, loss_micro, w0_micro..w3_micro) where loss_micro is
    the corpus log-loss UNDER THE EPOCH'S STARTING WEIGHTS (so
    epoch 1 always shows the ln(2)-per-doc cold loss) and the weight
    columns are the POST-update values the next epoch runs with.
    """
    rows, _w = _train(spark, sf_dir)
    return local_frame(
        spark,
        rows,
        "iteration int, loss_micro bigint, w0_micro bigint, "
        "w1_micro bigint, w2_micro bigint, w3_micro bigint",
    ).orderBy("iteration")


def trained_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train, then SCORE every document with the learned weights —
    the end-to-end gate shape: scoring is a pure map-side projection
    (the weights are 4 plan-time literals), so at 100 TB it costs one
    scan, exactly like the fixed-weight quality_classifier_scores.
    Output: (doc_id, logit_micro, pred, y) by doc_id.
    """
    _rows, w = _train(spark, sf_dir)
    feats = _feature_frame(spark, sf_dir)
    logit = sum(
        (F.lit(w[j] / 1e6) * F.col(f"x{j}")) for j in range(N_FEATURES)
    )
    logit_micro = F.floor(logit * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    return feats.select(
        "doc_id",
        logit_micro.alias("logit_micro"),
        (logit_micro > 0).cast("int").alias("pred"),
        F.col("y"),
    ).orderBy("doc_id")


def _logreg_oracle(scoring: bool = False) -> str:
    """Unrolled epoch CTE chain (the dedup_graph_pagerank pattern):
    s{t} aggregates the integer gradient/loss under w{t-1}'s scalars,
    w{t} applies the identical floor-based update. ``scoring`` swaps
    the final select from the per-epoch training curve to the
    per-document scores under the FINAL weights."""
    xs = [f"x{j}" for j in range(N_FEATURES)]

    def margin(wcte: str | None) -> str:
        if wcte is None:  # epoch 1: all-zero weights
            return "0.0"
        terms = " + ".join(
            f"({wcte}.w{j} / 1000000.0) * f.{xs[j]}"
            for j in range(N_FEATURES)
        )
        return f"round({terms}, 9)"

    def stage_simple(t: int, wcte: str | None) -> str:
        src = "feats f" if wcte is None else f"feats f CROSS JOIN {wcte} w"
        m = margin("w") if wcte else "0.0"
        gcols = ",\n           ".join(
            f"CAST(sum(CAST(floor((q.p - q.y) * q.{xs[j]} * 1000000.0 "
            f"+ 0.5) AS BIGINT)) AS BIGINT) AS g{j}"
            for j in range(N_FEATURES)
        )
        return f"""s{t} AS (
    SELECT {gcols},
           CAST(sum(CAST(floor((CASE WHEN q.y = 1 THEN -ln(q.p)
                           ELSE -ln(1.0 - q.p) END) * 1000000.0 + 0.5)
               AS BIGINT)) AS BIGINT) AS loss
    FROM (SELECT f.x0, f.x1, f.x2, f.x3, f.y,
                 round(1.0 / (1.0 + exp(-({m}))), 9) AS p
          FROM {src}) q
)"""

    def update(t: int, prev: str | None) -> str:
        cols = ",\n           ".join(
            (
                f"CAST({f'{prev}.w{j}' if prev else '0'} - "
                f"floor({LOGREG_LR} * s{t}.g{j} / "
                f"(SELECT n FROM consts) + 0.5) AS BIGINT) AS w{j}"
            )
            for j in range(N_FEATURES)
        )
        src = f"s{t}" + (f" CROSS JOIN {prev}" if prev else "")
        return f"""w{t} AS (
    SELECT {cols},
           s{t}.loss AS loss
    FROM {src}
)"""

    stages = []
    for t in range(1, LOGREG_ITERS + 1):
        prev = f"w{t - 1}" if t > 1 else None
        stages.append(stage_simple(t, prev))
        stages.append(update(t, prev))
    body = ",\n".join(stages)
    last = f"w{LOGREG_ITERS}"
    if scoring:
        terms = " + ".join(
            f"(w.w{j} / 1000000.0) * f.x{j}" for j in range(N_FEATURES)
        )
        final = f"""SELECT f.doc_id,
       CAST(floor(({terms}) * 1000000.0 + 0.5) AS BIGINT) AS logit_micro,
       CASE WHEN CAST(floor(({terms}) * 1000000.0 + 0.5) AS BIGINT) > 0
            THEN 1 ELSE 0 END AS pred,
       f.y
FROM feats f CROSS JOIN {last} w
ORDER BY f.doc_id"""
    else:
        selects = "\nUNION ALL\n".join(
            f"SELECT {t} AS iteration, w{t}.loss AS loss_micro, "
            + ", ".join(
                f"w{t}.w{j} AS w{j}_micro" for j in range(N_FEATURES)
            )
            + f" FROM w{t}"
            for t in range(1, LOGREG_ITERS + 1)
        )
        final = f"""SELECT iteration, loss_micro, w0_micro, w1_micro,
       w2_micro, w3_micro
FROM ({selects}) u
ORDER BY iteration"""
    return rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS tokens
    FROM documents
),
feats AS (
    SELECT doc_id,
           1.0 AS x0,
           round(least(len(tokens), 100) / 100.0, 6) AS x1,
           round(len(list_distinct(tokens))
                 / CAST(len(tokens) AS DOUBLE), 6) AS x2,
           round(len(array_to_string(tokens, ''))
                 / CAST(len(tokens) AS DOUBLE) / 10.0, 6) AS x3,
           CASE WHEN len(tokens) >= {LABEL_MIN_TOKENS}
                     AND round(len(list_distinct(tokens))
                               / CAST(len(tokens) AS DOUBLE), 6)
                         >= {LABEL_MIN_DIVERSITY}
                THEN 1 ELSE 0 END AS y
    FROM toks WHERE len(tokens) > 0
),
consts AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
{body}
{final}
"""


TRAIN_QUALITY_CLASSIFIER_SQL = _logreg_oracle()
TRAINED_CLASSIFIER_SCORES_SQL = _logreg_oracle(scoring=True)


CALIBRATION_BINS = 10


def classifier_calibration_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) of the
    trained quality classifier — the standard "are the probabilities
    honest" eval that accompanies any learned gate before its scores
    are used for sampling temperatures or acceptance thresholds
    (Guo et al. 2017). Bins the predicted probability into
    CALIBRATION_BINS equal-width buckets and compares mean predicted
    confidence to the observed positive rate per bin.

    Determinism: p is derived from the SAME integer logit_micro both
    engines already agree on (one exp per row, snapped to round(9)
    then floored to p_micro), so every downstream quantity is integer
    arithmetic. Per bin, n·|acc − conf| = |1e6·Σy − Σp_micro| exactly,
    so ece_micro = Σ_bins |1e6·Σy − Σp_micro| div N with no float
    accumulation. Empty bins carry no ECE mass and are omitted (the
    ECE definition sums over occupied bins only).

    Shape for scale: scoring is the map-side projection
    trained_classifier_scores already is (weights are plan literals);
    the report adds one ≤CALIBRATION_BINS-group partial+final agg and
    a window over that tiny aggregate. Training cost is the same
    fixed-epoch GD the other classifier queries pay.
    """
    scores = trained_classifier_scores(spark, sf_dir)
    p = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("logit_micro") / F.lit(1e6)))),
        9,
    )
    p_micro = F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    bin_width = int(1e6 // CALIBRATION_BINS)
    pm = scores.select(
        p_micro.alias("p_micro"), F.col("y").cast("bigint").alias("y")
    )
    binned = pm.select(
        F.least(
            F.expr(f"p_micro div {bin_width}"),
            F.lit(CALIBRATION_BINS - 1).cast("bigint"),
        ).cast("bigint").alias("bin"),
        "p_micro",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p_micro").cast("bigint").alias("_sum_p"),
        F.sum("y").cast("bigint").alias("_sum_y"),
    )
    w_all = Window.partitionBy()
    return (
        per_bin.withColumn(
            "_gap_mass", F.abs(F.lit(1_000_000) * F.col("_sum_y") - F.col("_sum_p"))
        )
        .withColumn("_n_total", F.sum("n_docs").over(w_all))
        .withColumn("_gap_total", F.sum("_gap_mass").over(w_all))
        .select(
            "bin",
            "n_docs",
            F.expr("CAST(_sum_p div n_docs AS BIGINT)").alias("conf_micro"),
            F.expr(
                "CAST(_sum_y * 1000000L div n_docs AS BIGINT)"
            ).alias("acc_micro"),
            F.expr("CAST(_gap_mass div n_docs AS BIGINT)").alias(
                "gap_micro"
            ),
            F.expr("CAST(_gap_total div _n_total AS BIGINT)").alias(
                "ece_micro"
            ),
        )
        .orderBy("bin")
    )


def _calibration_oracle() -> str:
    head, _, _tail = TRAINED_CLASSIFIER_SCORES_SQL.strip().rpartition(
        "ORDER BY"
    )
    bin_width = int(1e6 // CALIBRATION_BINS)
    return f"""
WITH scores AS ({head.strip()}),
pm AS (
    SELECT CAST(floor(round(1.0 / (1.0 + exp(-(logit_micro / 1000000.0))),
                      9) * 1000000.0 + 0.5) AS BIGINT) AS p_micro,
           CAST(y AS BIGINT) AS y
    FROM scores
),
per_bin AS (
    SELECT least(p_micro // {bin_width}, {CALIBRATION_BINS - 1}) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_micro) AS BIGINT) AS sum_p,
           CAST(sum(y) AS BIGINT) AS sum_y
    FROM pm GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin, n_docs,
       CAST(sum_p // n_docs AS BIGINT) AS conf_micro,
       CAST(sum_y * 1000000 // n_docs AS BIGINT) AS acc_micro,
       CAST(abs(1000000 * sum_y - sum_p) // n_docs AS BIGINT)
           AS gap_micro,
       CAST(sum(abs(1000000 * sum_y - sum_p)) OVER ()
            // sum(n_docs) OVER () AS BIGINT) AS ece_micro
FROM per_bin
ORDER BY bin
"""


CLASSIFIER_CALIBRATION_SQL = _calibration_oracle()


LIFT_DECILES = 10


def classifier_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of the trained quality classifier — the
    rank-based companion to classifier_calibration_report (which bins
    by score VALUE; a classifier can be miscalibrated yet still rank
    well, and ranking is what a top-k selection pipeline actually
    consumes). Docs sort into score deciles via percentile cuts;
    each decile reports its positive rate, lift over the base rate,
    and the cumulative share of all positives captured from the top.

    Decile assignment uses the broadcast percentile-cut recipe
    (customer_revenue_pareto) — a map-side comparison sum against 9
    plan literals, never a global sort. Counts are exact; every ratio
    is a micro-unit integer div; the cumulative capture runs over the
    10-row decile table via the bounded global window.

    NOTE: the synthetic fixture corpus is LABEL-DEGENERATE at every
    SF (its small generator vocabulary keeps token diversity < 0.7,
    so y = 0 corpus-wide) — here lift/capture report the guarded 0
    and the table is a structure check; the planted-fixture pytest
    (separable docs with real positives) exercises the ranking path.
    """
    from parquet_extractor_spark.functions.windows import (
        bounded_global_window,
    )

    # persist (r13; the r12 multi-reference pattern, guide §5): the
    # scored frame feeds the percentile cuts, the decile aggregate
    # AND (via by_decile's lineage) the totals — unpersisted, the
    # feature-extraction + logit pipeline executed three times.
    # Narrow (logit, y) rows.
    scores = materialize(
        trained_classifier_scores(spark, sf_dir).select(
            "logit_micro", F.col("y").cast("bigint").alias("y")
        )
    )
    qs = [i / LIFT_DECILES for i in range(1, LIFT_DECILES)]
    cuts = scores.agg(
        *[
            F.percentile(F.col("logit_micro").cast("double"), F.lit(q)).alias(
                f"c{int(q * 100)}"
            )
            for q in qs
        ]
    )
    decile = F.lit(1)
    for q in qs:
        decile = decile + (
            F.col("logit_micro") > F.col(f"c{int(q * 100)}")
        ).cast("int")
    by_decile = (
        scores.crossJoin(F.broadcast(cuts))
        .select(decile.cast("bigint").alias("decile"), "y")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    totals = by_decile.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("n_pos").cast("bigint").alias("pos_total"),
    )
    w_top = bounded_global_window(F.desc("decile")).rowsBetween(
        -1_000_000, 0
    )
    return (
        by_decile.crossJoin(F.broadcast(totals))
        .withColumn("_cum_pos", F.sum("n_pos").over(w_top))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            F.expr("CAST(n_pos * 1000000L div n_docs AS BIGINT)").alias(
                "pos_rate_micro"
            ),
            F.expr(
                "CAST(CASE WHEN pos_total > 0 THEN "
                "n_pos * n_total * 1000000L div (n_docs * pos_total) "
                "ELSE 0 END AS BIGINT)"
            ).alias("lift_micro"),
            F.expr(
                "CAST(CASE WHEN pos_total > 0 THEN "
                "_cum_pos * 1000000L div pos_total ELSE 0 END AS BIGINT)"
            ).alias("capture_from_top_micro"),
        )
        .orderBy("decile")
    )


def _decile_lift_oracle() -> str:
    head, _, _tail = TRAINED_CLASSIFIER_SCORES_SQL.strip().rpartition(
        "ORDER BY"
    )
    qs = [i / LIFT_DECILES for i in range(1, LIFT_DECILES)]
    cut_cols = ",\n      ".join(
        f"quantile_cont(CAST(logit_micro AS DOUBLE), {q}) AS c{int(q*100)}"
        for q in qs
    )
    decile = " + ".join(
        f"CAST(logit_micro > c{int(q*100)} AS INT)" for q in qs
    )
    return f"""
WITH scores AS ({head.strip()}),
cuts AS (
    SELECT {cut_cols} FROM scores
),
by_decile AS (
    SELECT CAST(1 + {decile} AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos
    FROM scores, cuts
    GROUP BY 1
),
totals AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
           CAST(sum(n_pos) AS BIGINT) AS pos_total
    FROM by_decile
)
SELECT decile, n_docs, n_pos,
       CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_rate_micro,
       CAST(CASE WHEN pos_total > 0 THEN
            n_pos * n_total * 1000000 // (n_docs * pos_total)
            ELSE 0 END AS BIGINT) AS lift_micro,
       CAST(CASE WHEN pos_total > 0 THEN
            sum(n_pos) OVER (ORDER BY decile DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // pos_total ELSE 0 END AS BIGINT)
           AS capture_from_top_micro
FROM by_decile, totals
ORDER BY decile
"""


CLASSIFIER_DECILE_LIFT_SQL = _decile_lift_oracle()
