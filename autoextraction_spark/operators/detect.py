"""Stage B — relation detection gate (reference operator E1).

Mirrors predict.py:135-146: a cheap classifier scores every relation per
document; only (doc, relation) pairs with sigmoid(logit) > 0.6 reach the
expensive ordered extractor. This is the engine's predicate-pushdown analog
(SURVEY.md §4): the gate runs BEFORE the fork loop and prunes its input.

Spark-first: the deterministic detector is a broadcast cross join of the tiny
relation-anchor dimension (|relations| × |langs| rows) against the corpus,
scored entirely with JVM/codegen expressions (``instr``/``when``/``exp``) —
no UDF in this hot path, and Catalyst keeps the text-column scan pruned to
(url, text, lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..materialize import local_table

RC_PRIMARY_LOGIT = 2.5   # sigmoid -> 0.924
RC_ALT_LOGIT = 1.5       # sigmoid -> 0.817
RC_MISS_LOGIT = -3.0     # sigmoid -> 0.047
RC_THRESHOLD = 0.6       # reference gate, predict.py:19


def relation_anchors(spark: SparkSession) -> DataFrame:
    """Tiny dimension table: (lang, rel, primary_anchor, alt_anchor)."""
    return local_table(
        spark,
        S.relation_anchor_rows(),
        "lang string, rel string, primary_anchor string, alt_anchor string",
    )


#: detector-training hyperparameters: full-batch GD needs ~24 iterations at
#: lr 8 before the rare alt-only-phrased class (x1=0, x2=1, ~3.6% of
#: positives) clears the 0.5 gate — chosen so the TRAINED gate's detection
#: F1 reaches the fixed-anchor gate's 1.0 on the synthetic corpus with
#: margin (w0+w2 ≈ 0.76 at convergence, sigmoid ≈ 0.68).
DETECTOR_LR = 8.0
DETECTOR_ITERS = 24


def detector_features(pages: DataFrame) -> DataFrame:
    """(url, rel, x0..x4) — one candidate row per (page, relation/event of
    the page's language), the multi-label-as-binary decomposition of the
    reference's RCModel (classification.py:32-67: shared encoder + sigmoid
    per relation).

    Features are pure codegen over the broadcast anchor dimension — the
    same single-scan shape as the fixed gate, so feature generation runs at
    scan speed on 100 TB: x0 bias, x1 primary-anchor presence, x2
    alt-anchor presence, x3 zh-language flag, x4 event-schema flag.
    """
    anchors = F.broadcast(relation_anchors(pages.sparkSession))
    return pages.join(anchors, on="lang", how="inner").select(
        "url",
        "rel",
        F.lit(1.0).alias("x0"),
        (F.instr(F.col("text"), F.col("primary_anchor")) > 0)
        .cast("double")
        .alias("x1"),
        F.when(
            F.col("alt_anchor").isNotNull()
            & (F.instr(F.col("text"), F.col("alt_anchor")) > 0),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("x2"),
        (F.col("lang") == "zh").cast("double").alias("x3"),
        F.col("rel").isin(list(S.EVENTS)).cast("double").alias("x4"),
    )


def with_detector_labels(feats: DataFrame, gold_pairs: DataFrame) -> DataFrame:
    """Attach the supervision signal: y = 1 iff the gold corpus carries a
    fact/event of ``rel`` on that page (the reference trains RCModel from
    its labeled datasets the same way — classification.py:52-60)."""
    g = (
        gold_pairs.select("url", "rel")
        .distinct()
        .withColumn("y", F.lit(1.0))
    )
    return feats.join(g, ["url", "rel"], "left").fillna({"y": 0.0})


def train_detector(
    pages: DataFrame,
    gold_pairs: DataFrame,
    lr: float = DETECTOR_LR,
    iters: int = DETECTOR_ITERS,
) -> DataFrame:
    """Train the detection gate's weights distributedly (the
    classification.py training analog): full-batch logistic-regression GD
    via classifier.logreg_train — weights live in 1-row broadcast
    DataFrames, each iteration is ONE map-side-combinable average over the
    checkpointed feature table, no collect anywhere. Returns the (iter,
    w0..w4) snapshot table (rounded to 6, the oracle-parity rule)."""
    from .classifier import logreg_train

    feats = with_detector_labels(detector_features(pages), gold_pairs)
    return logreg_train(feats, label_col="y", lr=lr, iters=iters)


def detect_relations_with_weights(
    pages: DataFrame, weights: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Deploy a TRAINED detection gate: (url, rel, score, keep) for every
    candidate pair, score = round(sigmoid(w·x), 6), keep = score ≥
    threshold (the rounded score decides, so a last-ulp exp() difference
    between engines cannot flip the gate).

    ``weights`` is a 1-row (w0..w4) DataFrame — e.g.
    ``train_detector(...).filter(F.col("iter") == DETECTOR_ITERS)`` — kept
    as a broadcast crossJoin rather than collected literals so the
    train→deploy composition stays one lazy plan."""
    feats = detector_features(pages)
    j = feats.crossJoin(
        F.broadcast(weights.select(*[f"w{i}" for i in range(5)]))
    )
    z = F.lit(0.0)
    for i in range(5):
        z = z + F.col(f"w{i}") * F.col(f"x{i}")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return j.select(
        "url",
        "rel",
        score.alias("score"),
        (score >= F.lit(float(threshold))).cast("int").alias("keep"),
    )


def detect_relations(pages: DataFrame, threshold: float = RC_THRESHOLD) -> DataFrame:
    """(url, text, lang) -> (url, text, lang, rel, rc_score), gated.

    One broadcast nested-loop join against 10 anchor rows, then a codegen'd
    scoring expression — the 100 TB plan is a single scan + filter.
    """
    spark = pages.sparkSession
    anchors = F.broadcast(relation_anchors(spark))
    logit = (
        F.when(F.instr(F.col("text"), F.col("primary_anchor")) > 0, F.lit(RC_PRIMARY_LOGIT))
        .when(
            F.col("alt_anchor").isNotNull()
            & (F.instr(F.col("text"), F.col("alt_anchor")) > 0),
            F.lit(RC_ALT_LOGIT),
        )
        .otherwise(F.lit(RC_MISS_LOGIT))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return (
        pages.join(anchors, on="lang", how="inner")
        .withColumn("rc_score", score)
        .filter(F.col("rc_score") > threshold)
        .select("url", "text", "lang", "rel", "rc_score")
    )


def detector_calibration(
    pages: DataFrame,
    gold_pairs: DataFrame,
    lr: float = DETECTOR_LR,
    iters: int = DETECTOR_ITERS,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram of the trained detection gate — the model-card
    table that says whether the gate's sigmoid scores can be READ as
    probabilities (bin the candidate pairs by score, compare each bin's
    mean score to its empirical positive rate). Miscalibration here is why
    a production gate's threshold must be tuned on held-out data rather
    than assumed at 0.5.

    Output: (bin, n, n_pos, pos_rate, mean_score) — bin =
    floor(score·n_bins) clamped to n_bins-1.

    Scale shape: train → deploy → ONE map-side-combinable groupBy over the
    scored candidate pairs, all in a single lazy plan; the label join is
    the same (url, rel)-keyed equi-join as training supervision.
    """
    snaps = train_detector(pages, gold_pairs, lr=lr, iters=iters)
    wfin = snaps.filter(F.col("iter") == iters)
    scored = detect_relations_with_weights(pages, wfin)
    labeled = with_detector_labels(scored, gold_pairs)
    b = (
        F.least(F.floor(F.col("score") * n_bins), F.lit(n_bins - 1))
        .cast("int")
        .alias("bin")
    )
    return labeled.groupBy(b).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum("y") / F.count(F.lit(1)), 6).alias("pos_rate"),
        F.round(F.avg("score"), 6).alias("mean_score"),
    )
