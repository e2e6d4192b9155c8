"""Streaming link-graph maintenance — the live crawl frontier's input.

The batch crawl family (``text_extract.page_links`` / ``host_link_graph``
→ ``host_authority`` → ``crawl_frontier`` → ``crawl_schedule``) decides
what to fetch next from a STATIC corpus snapshot; a production crawler
updates that decision continuously as pages land. This module maintains the
host-level link graph incrementally: each micro-batch extracts the batch's
href edges and appends the batch's AGGREGATED host-pair deltas to a
partitioned store; the current graph is the store re-aggregated.

Exactly-once: the per-epoch delta is a deterministic function of the
batch's pages, written with dynamic partition overwrite on ``_epoch`` — a
retried epoch replaces its own partition with identical rows (the
``ingest.py`` sink discipline). The store is append-only deltas, never a
rewritten running total, so epoch writes stay O(batch) at any corpus size;
a real deployment compacts old epochs offline.

Semantics note: ``n_pages`` sums per-epoch distinct linking pages, so a
page re-crawled in a later epoch counts again — deliberate (re-crawls ARE
new observations of the link; the graph weights recency), documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators.text_extract import host_link_graph
from .ingest import stream_pages


def stream_link_graph(
    spark: SparkSession, in_dir: str, store_dir: str, ckpt_dir: str
):
    """One availableNow pass: land every pending page file's link-edge
    deltas into ``store_dir`` exactly once."""
    def run(batch_df: DataFrame, epoch_id: int) -> None:
        store.write_epoch(host_link_graph(batch_df).drop("is_intra"), store_dir, epoch_id)

    return store.run_available(stream_pages(spark, in_dir), run, ckpt_dir)


def current_link_graph(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accumulated host-level link graph: epoch deltas re-aggregated —
    (src_host, dst_host, is_intra, n_links, n_pages)."""
    return (
        store.read(spark, store_dir)
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").alias("n_links"), F.sum("n_pages").alias("n_pages"))
        .select(
            "src_host",
            "dst_host",
            (F.col("src_host") == F.col("dst_host")).alias("is_intra"),
            "n_links",
            "n_pages",
        )
    )
