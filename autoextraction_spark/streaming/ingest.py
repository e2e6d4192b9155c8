"""Structured Streaming ingestion — beyond-reference capability.

The reference is pure batch (SURVEY.md §2.5: streaming absent), and the
north_rule asks for batch with checkpoint/resume — which pipeline.py covers.
This module adds the *incremental crawl* story a production KG pipeline
needs: new WARC/page files land continuously; each micro-batch runs the
batch pipeline (stages A-D are deterministic pure functions, so re-running
them per micro-batch is exactly-once under the streaming checkpoint), and
triples append to partitioned parquet.

Design rules at scale:
- stateless stages (A, B) compose directly onto the stream;
- the iterative fork loop (stage C) runs inside ``foreachBatch`` — iteration
  is per-micro-batch, never cross-batch state;
- exactly-once = streaming checkpointLocation + an IDEMPOTENT epoch sink:
  each micro-batch dynamically overwrites its own ``_epoch=<id>`` partition,
  so a retried epoch replaces rather than duplicates its output. Every
  streaming module starts its stream with ``store.run_available`` and
  writes through ``store.write_epoch``, which keeps the store's schema in
  ``_manifest.json`` beside the partitions, so reads of the store
  (``store.read``) declare it instead of inferring it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators.text_extract import with_extracted_text
from ..pipeline import text_triples

PAGES_DDL = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def stream_pages(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream of landed page files (stand-in for Kafka/WARC)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )


def stream_kg_pipeline(
    spark: SparkSession, in_dir: str, out_dir: str, ckpt_dir: str
):
    """Start the incremental extraction stream; returns the StreamingQuery.

    ``availableNow`` drains everything currently landed then stops — the
    batch-catchup trigger; a production deployment uses processingTime.
    """
    def run(batch_df: DataFrame, epoch_id: int) -> None:
        store.write_epoch(text_triples(with_extracted_text(batch_df)), out_dir, epoch_id)

    return store.run_available(stream_pages(spark, in_dir), run, ckpt_dir)


def stateful_exact_dedup(
    pages_stream: DataFrame,
    content_col: str = "html",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-micro-batch EXACT dedup via ``applyInPandasWithState``: the
    first page per content digest survives (min url for determinism); every
    later duplicate — same batch or any later one — is dropped.

    State = one boolean per digest group, so the state store holds exactly
    |distinct contents| single-byte entries, hash-partitioned (no skew
    surface). At production scale back the store with RocksDB — the digest
    set of an unbounded crawl exceeds executor heap, and the default store
    keeps state in memory: set ``spark.sql.streaming.stateStore.providerClass``
    to ``session.ROCKSDB_STATE_PROVIDER``, either with ``spark.conf.set``
    before query start (a runtime SQL conf) or through ``get_spark``'s
    ``extra_conf`` — and
    pass ``ttl_ms`` to bound retention: each digest's state expires
    ``ttl_ms`` after it was last SEEN (duplicates refresh the clock), after
    which the same content is re-admitted once — the standard
    bounded-memory trade for unbounded streams."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = pages_stream.select(
        F.md5(F.col(content_col).cast("binary")).alias("digest"), "url"
    )

    def dedup_fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()  # forget the digest: next sighting re-admits
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[[pdf["url"].idxmin()]]
            if best is None or cand["url"].iloc[0] < best["url"].iloc[0]:
                best = cand
        seen = state.exists
        if best is not None and (not seen or ttl_ms is not None):
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if seen or best is None:
            return  # duplicate of an earlier batch (or empty group): drop
        yield best[["digest", "url"]]

    return keyed.groupBy("digest").applyInPandasWithState(
        dedup_fn,
        outputStructType="digest string, url string",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def windowed_page_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window ingest monitoring (late data tolerated
    up to 1 day on warc_ts): the streaming-aggregation pattern."""
    return (
        pages_stream.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", "7 days"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def streaming_url_dedup(pages_stream: DataFrame, url_col: str = "url") -> DataFrame:
    """Cross-micro-batch URL-level dedup — the streaming form of
    ``pipeline.url_dedup``, the FIRST dedup pass a live crawl ingest runs:
    canonicalize each arriving URL (``pipeline.canonical_url``: fragment /
    utm_* / dangling '?' / default ports / host case / trailing slash)
    and keep the first page per canonical URL across the whole stream via
    ``dropDuplicates`` state (re-crawls and tracking-tagged shares of a
    page already ingested are dropped, in this or any later micro-batch).

    Scale shape: the state store holds one row per DISTINCT canonical URL
    (the key only — Spark keeps dedup state as keys), partitioned by the
    canonical hash; page bodies flow through without shuffling beyond the
    dedup exchange. Pair with a watermark on ``warc_ts`` upstream when the
    crawl horizon allows state eviction.
    """
    from ..pipeline import canonical_url

    return pages_stream.withColumn(
        "url_canonical", canonical_url(F.col(url_col))
    ).dropDuplicates(["url_canonical"])
