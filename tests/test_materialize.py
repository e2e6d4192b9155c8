"""The one checkpoint primitive (materialize.ckpt), a guard that keeps it
the only one, and the global-rank primitive built on it (with_rank)."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from autoextraction_spark.materialize import ckpt, with_rank

ROOT = pathlib.Path(__file__).resolve().parent.parent

DISK = "StorageLevel(disk, 1 replicas)"
DEFAULT = "StorageLevel(disk, memory, deserialized, 1 replicas)"


@pytest.mark.parametrize(
    "kwargs,level",
    [({}, DISK), ({"eager": True}, DISK), ({"eager": True, "level": None}, DEFAULT)],
)
def test_ckpt_cuts_lineage_at_level(spark, kwargs, level):
    df = spark.range(0, 50, 1, 2).selectExpr("id", "id % 7 AS k")
    out = ckpt(df, **kwargs)
    plan = out._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LogicalRDD"
    assert plan.rdd().getStorageLevel().toString() == level
    assert sorted(out.collect()) == sorted(df.collect())


def test_with_rank_stays_jvm_side(spark):
    # the rank must not round-trip rows through Python (no RDD scan in the
    # plan) and must be a dense 0..n-1 sequence under any partition layout
    a = spark.range(0, 97).select((F.col("id") * 3 % 97).alias("k")).repartition(7)
    ranked = with_rank(a, "k")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # the eager localCheckpoint (recompute guard) legitimately scans a JVM
    # ExistingRDD of InternalRows; what must NOT appear is any Python
    # round-trip — no python UDF stage in the plan, no PythonRDD (pickled
    # rows) anywhere in the materialized lineage
    assert "EvalPython" not in plan
    assert "PythonRDD" not in ranked._jdf.rdd().toDebugString()
    rows = ranked.orderBy("_rn").collect()
    assert [r._rn for r in rows] == list(range(97))
    assert [r.k for r in rows] == sorted(r.k for r in rows)


def _library_sources():
    yield from sorted((ROOT / "autoextraction_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def test_no_checkpoint_outside_materialize():
    offenders = []
    for path in _library_sources():
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and path.name != "materialize.py"
            ):
                offenders.append(f"{rel}:{node.lineno} localCheckpoint")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "materialize" for p in params):
                    offenders.append(f"{rel}:{node.lineno} materialize= option")
    assert offenders == []
