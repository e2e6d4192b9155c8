"""Streaming incremental KG maintenance — the continuously-updated graph.

``streaming/ingest.py`` appends every extracted triple per epoch; this
module maintains a FACT STORE instead: each micro-batch extracts triples
from the newly-landed pages, keeps one row per novel fact, and appends only
facts the store doesn't already hold — the streaming form of
``pipeline.incremental_delta`` (the batch operator behind the ``kg_delta``
query).

Exactly-once subtlety: the novelty anti-join must read the store with
``_epoch < epoch_id`` — NOT the whole store. A retried epoch re-runs with
the same ``epoch_id`` after a partial write may have landed its partition;
anti-joining against its own half-written output would emit nothing and
dynamic-overwrite the partition to empty, silently LOSING the epoch's
facts. Excluding the current epoch makes the retry recompute exactly the
original novel set (same inputs, deterministic pipeline) and overwrite the
partition with identical rows. This is the same upper-bound discipline as
``online_train``'s replay-window filter (ADVICE round-3).

Scale shape: the per-batch work is stages A-D (``pipeline.text_triples``
over the extracted batch) + ONE left_anti equi-join on the fact key
against a partitioned parquet store pruned to the key columns; within-batch fact
dedup is a min-struct aggregation (map-side combinable). Epochs are
sequential, so the `_epoch < epoch_id` read is consistent without
snapshot isolation; on Iceberg the store read becomes a snapshot read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators.text_extract import with_extracted_text
from ..pipeline import incremental_delta, text_triples
from .ingest import stream_pages


def _first_seen_per_fact(triples: DataFrame) -> DataFrame:
    """One row per (pred, subj, obj) with min-url provenance — deterministic
    within-batch dedup as a partial-aggregated min, no window sort."""
    return triples.groupBy("pred", "subj", "obj").agg(
        F.min("url").alias("url")
    ).select("url", "pred", "subj", "obj")


def _maintain_batch(store_dir: str):
    def run(batch_df: DataFrame, epoch_id: int) -> None:
        novel = _first_seen_per_fact(text_triples(with_extracted_text(batch_df)))
        # guard ONLY the store read: a store with no manifest yet means first
        # epoch (everything novel), but an AnalysisException from the novelty
        # join itself (e.g. a foreign store with a renamed fact column)
        # must PROPAGATE — swallowing it would silently disable dedup and
        # duplicate facts across every subsequent epoch
        if store.manifest(store_dir) is not None:
            prior = store.read(batch_df.sparkSession, store_dir)
            novel = incremental_delta(
                novel, prior.filter(F.col("_epoch") < F.lit(epoch_id))
            )
        store.write_epoch(novel, store_dir, epoch_id)

    return run


def stream_kg_maintenance(
    spark: SparkSession, in_dir: str, store_dir: str, ckpt_dir: str
):
    """Start the fact-store maintenance stream (availableNow catch-up
    trigger, as in stream_kg_pipeline); returns the StreamingQuery."""
    return store.run_available(stream_pages(spark, in_dir), _maintain_batch(store_dir), ckpt_dir)
