"""The engine's one lineage cut: every derived table that an operator or
query materializes once (a table feeding several plan branches, an
iterative loop's per-round state) goes through ``ckpt``; ``level=None``
keeps Spark's default local-checkpoint level (memory and disk,
deserialized). ``ckpt_stats`` also returns aggregates observed by the
checkpoint job itself, so a convergence test or a sizing decision needs no
second job; ``observed`` does the same for any other writing job.
``with_rank``, the engine's one global-id primitive, is built on an eager
``ckpt``. ``local_table`` is the one way python rows held at
the driver enter a plan. ``co_key_pairs`` is the one blocking self-join
and ``cap_blocks`` its one giant-block cap."""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import and_

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel


def ckpt(
    df: DataFrame, eager: bool = False, level: StorageLevel | None = StorageLevel.DISK_ONLY
) -> DataFrame:
    """Local checkpoint of ``df`` at ``level`` (None: Spark's default).

    ``eager=False`` defers writing the rows to the first consumer's job,
    but not the shuffles under them: ``Dataset.localCheckpoint`` calls
    ``execute()`` on the plan to get its RDD, which runs every shuffle map
    stage below the last at build time. So a lazy checkpoint over a plan
    with an exchange costs that shuffle even when the frame is only
    ``explain``-ed (the plan-scan audit pays it for nothing)."""
    return df.localCheckpoint(eager=eager, storageLevel=level)


def observed(df: DataFrame, aggs: list[Column]) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with the named aggregates ``aggs`` observed by the next job
    that runs it, and a function returning their ``{alias: value}`` once that
    job has finished (no second job; exact under task retries, and 0 rows
    for a plan AQE prunes to no partitions)."""
    obs = Observation()
    return df.observe(obs, *aggs), lambda: obs.get


def ckpt_stats(
    df: DataFrame, level: StorageLevel | None, aggs: list[Column]
) -> tuple[DataFrame, dict]:
    """Eager local checkpoint of ``df`` at ``level`` and ``{alias: value}``
    of the named aggregates ``aggs``, observed while the checkpoint job
    writes the rows (``observed``)."""
    df, stats = observed(df, aggs)
    return ckpt(df, eager=True, level=level), stats()


def local_table(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as an Arrow-built
    ``LocalRelation``: the rows travel inside the plan, so no consumer runs
    a python stage to read them (``createDataFrame`` over python rows is a
    ``LogicalRDD`` of pickles, re-evaluated on every broadcast build)."""
    schema = StructType.fromDDL(ddl)
    names = schema.fieldNames()
    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
        )
    )


def with_rank(df: DataFrame, order: str) -> DataFrame:
    """Global 0-based rank, fully JVM-side: the standard two-pass parallel
    rank. Pass 1 range-partitions on the order key and counts rows per
    partition (one tiny agg job — the same extra job ``zipWithIndex`` runs);
    pass 2 assigns ``row_number`` within each range partition plus the
    scanned prefix offset. No no-partition Window (round-1's single-task
    funnel) and no ``rdd.zipWithIndex``/``createDataFrame(rdd)`` round-trip
    deserializing every row through Python pickles (round-2's flagged
    anti-pattern). Ties in ``order`` get an arbitrary but valid rank —
    callers should order by a (near-)unique key, as with any global rank.

    The range-partitioned plan is MATERIALIZED (eager localCheckpoint)
    before the count pass: both jobs must read the SAME partition boundaries
    and per-partition counts, and repartitionByRange samples its boundaries
    at execution time — re-executing the plan for pass 2 could silently
    shift rows across partitions and corrupt every rank downstream
    (ADVICE.md; the same recompute hazard checkpointed against elsewhere).
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    part = ckpt(
        df.repartitionByRange(nparts, F.col(order))
        .withColumn("_pid", F.spark_partition_id()),
        eager=True, level=None,
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(order)
    return part.withColumn(
        "_rn",
        (F.row_number().over(w) - 1 + F.element_at(off_map, F.col("_pid"))).cast("long"),
    ).drop("_pid")


def cap_blocks(df: DataFrame, keys: list[str], max_block: int) -> DataFrame:
    """The distinct rows of ``df`` whose ``keys`` block holds at most
    ``max_block`` rows: the stop-word rule that keeps ``co_key_pairs``
    off viral keys (template boilerplate, not signal). Duplicate rows count
    once. A row with a NULL key is dropped: it can never pair, and keeping
    it would make per-id counts taken from this table depend on how many
    NULL rows there are. One exchange (on ``keys``) feeds the distinct,
    the block-size window and both sides of a following ``co_key_pairs``
    (AQE reuses it), so the input is read once."""
    return (
        df.filter(reduce(and_, [F.col(k).isNotNull() for k in keys]))
        .repartition(*keys)
        .distinct()
        .withColumn("_block", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("_block") <= max_block)
        .drop("_block")
    )


def co_key_pairs(df: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """The blocking self-join: one row ``(id_a, id_b, *keys, *c_a, *c_b)``
    per pair of rows of ``df`` that agree on every one of ``keys``, with
    ``id_a < id_b``; every other column ``c`` comes back once per side as
    ``c_a``/``c_b``. Rows with a NULL key or id never pair. A pair sharing
    several keys comes back once per shared key: callers finish with a
    ``distinct`` of the ids or a ``groupBy(id_a, id_b)`` count.

    Giant blocks: the join emits Σ over blocks of |block|·(|block|-1)/2
    rows, so one block of n rows costs n² work whatever the cluster size
    (AQE's skew-join splitting spreads a giant block over tasks but cannot
    shrink its output). Only ``cap_blocks`` bounds that cost; an uncapped
    call is quadratic in its largest block (2,000 identical documents
    through ``dedup.minhash_dup_pairs``: 1,999,000 pairs in 7-11 s at
    ``local[4]`` on a 4-vCPU VM)."""
    rest = [c for c in df.columns if c != id_col and c not in keys]

    def side(s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{s}"), *keys, *[F.col(c).alias(f"{c}_{s}") for c in rest]
        )

    return (
        side("a")
        .join(side("b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *keys, *[f"{c}_a" for c in rest], *[f"{c}_b" for c in rest])
    )
