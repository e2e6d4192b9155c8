"""File/table utility operators — reference ljqpy.py parity (S10-S12).

The reference ships a grab-bag of TSV/line-file helpers (ljqpy.py:88-294);
each maps to one or two DataFrame primitives. The ``sql`` mini-DSL
(ljqpy.py:255-294, an eval-based `select … from … where … to …`) maps to
real Spark SQL — no custom parser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import ckpt


def load_csv(spark: SparkSession, path: str, sep: str = "\t", header: bool = False) -> DataFrame:
    """LoadCSV (ljqpy.py:116-128): tab-separated read."""
    return spark.read.csv(path, sep=sep, header=header)


def load_json_array(spark: SparkSession, path: str) -> DataFrame:
    """S2 whole-file JSON-array scan (dataset/webnlg.py:139-150): one
    ``json.loads`` of the full file → multiLine JSON source. Note multiLine
    files are NOT splittable — one task per file; fine for side tables,
    wrong for corpora (use JSONL there, S1)."""
    return spark.read.option("multiLine", True).json(path)


def save_csv(df: DataFrame, path: str, sep: str = "\t") -> None:
    """SaveCSV (ljqpy.py:130-134)."""
    df.write.mode("overwrite").csv(path, sep=sep)


def merge_files(dfs: list[DataFrame]) -> DataFrame:
    """MergeFiles (ljqpy.py:88-96): concatenate datasets."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _with_rank(df: DataFrame, order: str) -> DataFrame:
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


def zip_join(a: DataFrame, b: DataFrame, order_a: str, order_b: str) -> DataFrame:
    """JoinFiles (ljqpy.py:98-103): zip two datasets row-by-row.

    Row order must be DEFINED in a distributed engine — callers supply the
    ordering columns; rows pair up by rank.
    """
    return _with_rank(a, order_a).join(_with_rank(b, order_b), "_rn", "inner").drop("_rn")


def remove_dup_rows(df: DataFrame) -> DataFrame:
    """RemoveDupRows (ljqpy.py:208-214)."""
    return df.distinct()


def sort_rows(df: DataFrame, cols: list[str], ascending: bool = True) -> DataFrame:
    """SortRows (ljqpy.py:216-222)."""
    return df.orderBy(*[F.asc(c) if ascending else F.desc(c) for c in cols])


def sample_rows(
    df: DataFrame, n: int, key_cols: list[str] | None = None, seed: int = 42
) -> DataFrame:
    """SampleRows (ljqpy.py:224-230): deterministic n-row sample.

    Orders by a hash of ROW CONTENT (md5 over ``key_cols``, default all
    columns), not ``rand(seed)`` — rand is seeded per partition, so the same
    call returned different rows under different layouts (ADVICE.md).
    ``orderBy + limit`` compiles to TakeOrderedAndProject: per-partition
    top-n then a driver merge of n·partitions rows, never a global sort.
    """
    keys = [F.col(c).cast("string") for c in (key_cols or df.columns)]
    h = F.md5(F.concat_ws("\x1f", *keys, F.lit(str(seed))))
    return df.orderBy(h).limit(n)


def set_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """SetProduct (ljqpy.py:135-144): cartesian product."""
    return a.crossJoin(b)


def split_tables(df: DataFrame, path: str, by: str) -> None:
    """SplitTables (ljqpy.py:146-151): partitioned write by a key column."""
    df.write.mode("overwrite").partitionBy(by).parquet(path)


def random_half_split(df: DataFrame, seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """data_split.py:4-23: disjoint random halves (S4); also the two-agent
    cross-training split (S3)."""
    a, b = df.randomSplit([0.5, 0.5], seed=seed)
    return a, b


def write_golden_json(df: DataFrame, path: str) -> None:
    """S7 golden-case sink (case.py:43,95-100) / S8 filtered-split sink
    (data_filter.py:212-242): JSON fixture dump for manual diffing."""
    df.coalesce(1).write.mode("overwrite").json(path)


def run_sql(spark: SparkSession, query: str) -> DataFrame:
    """ljqpy.sql mini-DSL (ljqpy.py:255-294) → real Spark SQL."""
    return spark.sql(query)
