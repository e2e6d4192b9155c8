"""Distributed quality-classifier training (engine-new): the CCNet /
LLaMA-pipeline stage that trains a lightweight linear classifier to score
documents against a reference corpus (Wenzek et al. 2020 §3.3 train a
fastText model on Wikipedia-vs-crawl; Touvron et al. 2023 filter with a
Wikipedia-reference classifier).

Stand-in model matching this sandbox (no GPU, no fastText): logistic
regression over pure-codegen text features, trained by FULL-BATCH gradient
descent where one training iteration is ONE distributed aggregation:

    g_j = avg_i( (sigmoid(w·x_i) - y_i) * x_ij )        w' = w - lr * g

Everything stays declarative — the weight vector is a 1-ROW DataFrame
crossJoined (broadcast) into the feature table, the gradient is a single
``avg`` aggregation, and the updated weights are again a 1-row DataFrame:
NO ``collect``/``first`` in the loop, mirroring ``graph.entity_pagerank``.
Fixed ``iters`` keeps the plan deterministic, so the SQL oracle can unroll
the same iterations (``oracle.quality_classifier_sql``).

Scale shape (100 TB): the feature table is computed once (pure codegen
expressions over the scan — no UDF) and checkpointed; each iteration is one
map-side-combinable average over it — the classic "one pass per epoch"
distributed-GD layout. Each weight snapshot is checkpointed so iteration
k+1 reads a 1-row artifact instead of re-running iterations 1..k (and the
final union of snapshots does not re-execute the whole chain per row).

Reference tie-in: the reference has no corpus-quality model (engine-new);
the trainable-seam layout follows operators/rl_train.py (E14), whose
fitted-Q loop is the same compute shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import ckpt
from .textstats import STOPWORDS, _word_count

#: feature names in weight order; w0 pairs with the bias feature x0 = 1
N_FEATURES = 5


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds x0..x4: bias, clipped length, punctuation ratio, (English)
    stopword ratio, clipped average token length. Pure codegen; the SQL
    oracle mirrors each formula term-for-term."""
    from .dedup import spread_input

    df = spread_input(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.split(t, " "))
    n_punct = F.regexp_count(t, F.lit("[.,;:!?]"))
    n_stop: Column | None = None
    for w in STOPWORDS:
        c = _word_count(t, w)
        n_stop = c if n_stop is None else n_stop + c
    return (
        df.withColumn("x0", F.lit(1.0))
        .withColumn("x1", F.least(n_words, F.lit(200)) / F.lit(200.0))
        .withColumn("x2", n_punct / F.greatest(n_chars, F.lit(1)))
        .withColumn("x3", n_stop / F.greatest(n_words, F.lit(1)))
        .withColumn(
            "x4",
            F.least(n_chars / F.greatest(n_words, F.lit(1)), F.lit(10.0))
            / F.lit(10.0),
        )
    )


def logreg_train(
    features: DataFrame,
    label_col: str = "y",
    lr: float = 2.0,
    iters: int = 3,
) -> DataFrame:
    """Full-batch logistic-regression GD from w = 0; returns one row per
    weight snapshot: (iter, w0..w4 rounded to 6) for iter 0..iters.

    ``features`` must carry x0..x{N_FEATURES-1} and ``label_col`` (0/1).
    """
    wcols = [f"w{j}" for j in range(N_FEATURES)]
    xcols = [f"x{j}" for j in range(N_FEATURES)]
    feats = ckpt(features.select(F.col(label_col).alias("y"), *xcols))

    spark = features.sparkSession
    w = spark.range(1).select(*[F.lit(0.0).alias(c) for c in wcols])
    snapshots = [w.withColumn("iter", F.lit(0))]
    for _ in range(iters):
        joined = feats.crossJoin(F.broadcast(w))
        z: Column = F.lit(0.0)
        for wc, xc in zip(wcols, xcols):
            z = z + F.col(wc) * F.col(xc)
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y")
        g = joined.agg(
            *[F.avg(err * F.col(xc)).alias(f"g{j}") for j, xc in enumerate(xcols)]
        )
        w = ckpt(
            w.crossJoin(F.broadcast(g)).select(
                *[
                    (F.col(wc) - F.lit(float(lr)) * F.col(f"g{j}")).alias(wc)
                    for j, wc in enumerate(wcols)
                ]
            )
        )
        snapshots.append(w.withColumn("iter", F.lit(len(snapshots))))
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    return out.select(
        F.col("iter").cast("long").alias("iter"),
        *[F.round(F.col(c), 6).alias(c) for c in wcols],
    )


def classify(
    df: DataFrame, weights: list[float], text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Apply trained weights: adds ``score`` = round(sigmoid(w·x), 6) and
    ``keep`` = score >= threshold. Weights are plan literals (a model
    artifact, like IVF centroids) — the scoring pass is pure codegen at
    scan speed. ``keep`` compares the ROUNDED score (repo oracle
    invariant): a last-ulp exp() difference between engines cannot flip it
    unless the 6-decimal roundings themselves differ."""
    if len(weights) != N_FEATURES:
        raise ValueError(f"expected {N_FEATURES} weights, got {len(weights)}")
    feats = quality_features(df, text_col)
    z: Column = F.lit(0.0)
    for j, wv in enumerate(weights):
        z = z + F.lit(float(wv)) * F.col(f"x{j}")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.withColumn("score", score).withColumn(
        "keep", (score >= threshold).cast("int")
    )
