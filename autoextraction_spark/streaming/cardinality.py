"""Streaming cardinality maintenance — the live form of the HLL sketch
family (``operators/sketch.py``), and the reason sketches earn their place
at 100 TB: registers are MERGEABLE, so a continuously-landing crawl can
keep an always-current distinct count without ever re-scanning history.

Each micro-batch builds the epoch's own register table (64 longs per
group, map-side combinable max — the batch pages themselves never leave
their executors) and overwrites its ``_epoch=<id>`` partition; the current
sketch is the store folded by :func:`~..operators.sketch.hll_merge` (max
is associative and idempotent, so epoch granularity is irrelevant to the
result — ``tests/test_streaming.py`` asserts stream ≡ one-shot batch).

Exactly-once: same discipline as ``ingest.py`` / ``kg_update.py`` — the
epoch sink is idempotent because the register build is a deterministic
pure function of the batch, and a retried epoch dynamically overwrites its
own partition with identical rows. Unlike the fact store there is no
cross-epoch read in the hot path at all: the store is fold-on-read, and a
production deployment folds periodically by rewriting old epochs into one
(also just ``hll_merge``).

No reference analog (EZ-hwh/AutoExtraction has neither streaming nor an
approximate layer); engine-new per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import store
from ..operators import sketch
from .ingest import stream_pages


def stream_cardinality(
    spark: SparkSession,
    in_dir: str,
    store_dir: str,
    ckpt_dir: str,
    key_col: str = "url",
    group_cols: list[str] | None = None,
    seed: str = "#shll",
):
    """Start the register-store maintenance stream over landed page files
    (availableNow catch-up trigger); returns the StreamingQuery."""
    if group_cols is None:
        group_cols = ["lang"]

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        regs = sketch.hll_registers(batch_df, key_col, group_cols, seed=seed)
        store.write_epoch(regs, store_dir, epoch_id)

    return store.run_available(stream_pages(spark, in_dir), run, ckpt_dir)


def current_estimate(
    spark: SparkSession,
    store_dir: str,
    group_cols: list[str] | None = None,
    out_col: str = "hll_estimate",
) -> DataFrame:
    """The always-current distinct-count estimate per group: the epoch
    register store folded by per-bucket max, then the shared estimator."""
    if group_cols is None:
        group_cols = ["lang"]
    regs = store.read(spark, store_dir).select(*group_cols, "bucket", "reg")
    return sketch.hll_estimate(
        sketch.hll_merge(regs, group_cols), group_cols, out_col
    )
