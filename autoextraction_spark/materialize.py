"""The engine's one lineage cut: every derived table that an operator or
query materializes once (a table feeding several plan branches, an
iterative loop's per-round state) goes through ``ckpt``; ``level=None``
keeps Spark's default local-checkpoint level (memory and disk,
deserialized). ``ckpt_stats`` also returns aggregates observed by the
checkpoint job itself, so a convergence test or a sizing decision needs no
second job. ``with_rank``, the engine's one global-id primitive, is built
on an eager ``ckpt``. ``local_table`` is the one way python rows held at
the driver enter a plan."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel


def ckpt(
    df: DataFrame, eager: bool = False, level: StorageLevel | None = StorageLevel.DISK_ONLY
) -> DataFrame:
    """Local checkpoint of ``df`` at ``level`` (None: Spark's default)."""
    return df.localCheckpoint(eager=eager, storageLevel=level)


def ckpt_stats(
    df: DataFrame, level: StorageLevel | None, aggs: list[Column]
) -> tuple[DataFrame, dict]:
    """Eager local checkpoint of ``df`` at ``level`` and ``{alias: value}``
    of the named aggregates ``aggs``, observed while the checkpoint job
    writes the rows (no second job; exact under task retries, and 0 rows for
    a plan AQE prunes to no partitions)."""
    obs = Observation()
    return ckpt(df.observe(obs, *aggs), eager=True, level=level), obs.get


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
