"""Streaming corpus-quality filtering (engine-new): the cleaned-corpus
operators applied AT INGEST — score each arriving page with the trained
quality classifier and downsample to the target mixture before anything is
stored, the way a production crawl pipeline gates its firehose.

The point of this module is what it does NOT contain: ``classifier.
classify`` and ``compose.mixture_sample`` are row-local pure-codegen
transformations, so the SAME operator code runs unchanged on a streaming
DataFrame — Spark's unified batch/stream API, no re-implementation, no
foreachBatch needed for the transformation itself. ``foreachBatch`` is used
only for the sink, reusing ingest.py's idempotent per-epoch dynamic
partition overwrite (a retried epoch REPLACES its own partition —
exactly-once under the streaming checkpoint).

Scale shape: scoring adds zero shuffles to the stream (map-side codegen
over each micro-batch); the mixture decision is the same integer-threshold
hash as batch, so a document admitted by the streaming path is EXACTLY the
document the batch path would admit — replaying the firehose through the
batch pipeline reproduces the streamed corpus bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import store
from ..operators import classifier, compose
from .ingest import stream_pages


def score_stream(
    pages: DataFrame,
    weights: list[float],
    rates: dict[str, float],
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-gate a (streaming or batch) pages DataFrame: classifier
    score + keep flag, then the deterministic mixture filter. Pure
    row-local transformations — valid on either API with identical
    results."""
    scored = classifier.classify(pages, weights, threshold=threshold)
    kept = scored.filter(F.col("keep") == 1)
    return compose.mixture_sample(kept, rates).select(
        "doc_id", "url", "lang", "text", "score"
    )


def run_scored_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights: list[float],
    rates: dict[str, float],
    threshold: float = 0.5,
) -> StreamingQuery:
    """File-source stream → quality gate → idempotent epoch-partitioned
    parquet sink. Processes everything available, then stops (availableNow —
    swap for a continuous trigger in deployment)."""
    gated = score_stream(stream_pages(spark, in_dir), weights, rates, threshold)

    return store.run_available(
        gated, lambda batch_df, epoch_id: store.write_epoch(batch_df, out_dir, epoch_id),
        checkpoint_dir,
    )
