"""The one checkpoint primitive (materialize.ckpt) and its counted form
(ckpt_stats), the one driver-rows primitive (local_table), the one blocking
self-join (co_key_pairs) and its cap (cap_blocks), guards that keep them —
and pipeline's two triple chains — the only ones, and the global-rank
primitive built on ckpt (with_rank)."""

import ast
import pathlib
import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from autoextraction_spark.materialize import (
    cap_blocks,
    ckpt,
    ckpt_stats,
    co_key_pairs,
    local_table,
    with_rank,
)
from autoextraction_spark.operators import graph

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


def test_ckpt_stats_observes_exact_values_in_the_checkpoint_job(spark):
    df = spark.range(0, 100, 1, 4).selectExpr("id", "CAST(id AS STRING) AS k")
    out, stats = ckpt_stats(
        df, None, [F.count(F.lit(1)).alias("n"), F.avg(F.length("k")).alias("avg")]
    )
    assert out._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    assert sorted(out.collect()) == sorted(ckpt(df, eager=True, level=None).collect())
    # 10 one-digit ids + 90 two-digit ids
    assert stats == {"n": 100, "avg": 1.9}


def test_ckpt_stats_counts_zero_on_a_pruned_plan(spark):
    # an empty join side lets AQE prune the plan to no partitions; the
    # observation must still arrive (0 rows), not hang
    df = spark.range(0, 50, 1, 2)
    out, stats = ckpt_stats(
        df.join(df.limit(0), "id"), StorageLevel.DISK_ONLY, [F.count(F.lit(1)).alias("n")]
    )
    assert stats["n"] == 0
    assert out.collect() == []


@pytest.mark.parametrize(
    "rows",
    [[("a", None, [1, None]), (None, 7, [])], []],
    ids=["nulls-and-arrays", "zero-rows"],
)
def test_local_table_is_an_arrow_local_relation(spark, rows):
    ddl = "s string, n bigint, xs array<int>"
    out = local_table(spark, rows, ddl)
    assert out._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert out.schema.simpleString() == "struct<s:string,n:bigint,xs:array<int>>"
    assert [tuple(r) for r in out.collect()] == rows


def _jobs_of(spark, action):
    """Spark jobs ``action`` runs: the job ids between two marker jobs."""
    sc = spark.sparkContext

    def marker():
        sc.setJobGroup("ckpt-marker", "marker")
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup("ckpt-marker"))

    try:
        m0 = marker()
        sc.setJobGroup("ckpt-caller", "action")
        action()
        m1 = marker()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return m1 - m0 - 1


def test_loops_take_their_counts_from_the_checkpoint_job(spark):
    # a 5-edge chain: the closure runs 5 rounds (the last one empty), k_core
    # (k=2) peels one end pair per round. Counting each round's new state in
    # its own checkpoint job saves a job per round over a separate
    # isEmpty()/count() probe, which ran 43 and 25 jobs here.
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(5)], "src string, dst string"
    )
    tc = _jobs_of(spark, lambda: graph.transitive_closure(chain, max_depth=8).count())
    kc = _jobs_of(spark, lambda: graph.k_core(chain, k=2).count())
    assert (tc, kc) == (38, 17)


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


BLOCK_DDL = "id long, k1 string, k2 int, p string"


def _block_rows(seed: int) -> list[tuple]:
    """Small keyed rows with colliding multi-column keys, NULL keys, NULL
    ids and repeated rows."""
    rng = random.Random(seed)
    rows = [
        (
            rng.choice([None, *range(12)]),
            rng.choice([None, "x", "y", "z"]),
            rng.randrange(3),
            rng.choice(["p", "q"]),
        )
        for _ in range(40)
    ]
    return rows + rows[:5]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_co_key_pairs_matches_brute_force(spark, seed):
    rows = _block_rows(seed)
    got = co_key_pairs(local_table(spark, rows, BLOCK_DDL), "id", ["k1", "k2"])
    assert got.columns == ["id_a", "id_b", "k1", "k2", "p_a", "p_b"]
    want = Counter(
        (a[0], b[0], a[1], a[2], a[3], b[3])
        for a in rows
        for b in rows
        if None not in (a[0], b[0], a[1], b[1]) and a[0] < b[0] and a[1:3] == b[1:3]
    )
    assert Counter(tuple(r) for r in got.collect()) == want
    assert sum(want.values()) > 0


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("max_block", [1, 2, 3])
def test_cap_blocks_matches_brute_force(spark, seed, max_block):
    rows = _block_rows(seed)
    got = cap_blocks(local_table(spark, rows, BLOCK_DDL), ["k1", "k2"], max_block)
    distinct = {r for r in rows if r[1] is not None}
    size = Counter(r[1:3] for r in distinct)
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        (r for r in distinct if size[r[1:3]] <= max_block), key=repr
    )


def test_cap_blocks_boundary_and_duplicates(spark):
    # block "a": exactly 3 distinct rows, one of them repeated -> kept;
    # block "b": 4 distinct rows -> dropped; NULL keys never survive
    rows = [(1, "a"), (2, "a"), (3, "a"), (3, "a"), (3, "a")]
    rows += [(i, "b") for i in range(4)] + [(7, None), (8, None)]
    got = cap_blocks(local_table(spark, rows, "id long, k string"), ["k"], 3)
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (2, "a"), (3, "a")]
    pairs = co_key_pairs(got, "id", ["k"]).select("id_a", "id_b").collect()
    assert sorted(tuple(r) for r in pairs) == [(1, 2), (1, 3), (2, 3)]


def _library_sources():
    yield from sorted((ROOT / "autoextraction_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def _called_names(src, fn: str | None = None):
    """(line, name, call, enclosing function) of every call in ``src``
    (source text or a parsed node), also inside string literals that hold
    code (scripts/scaling.py runs its worker from one)."""
    for node in ast.iter_child_nodes(ast.parse(src) if isinstance(src, str) else src):
        if isinstance(node, ast.Call):
            f = node.func
            yield node.lineno, getattr(f, "attr", None) or getattr(f, "id", None), node, fn
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                yield from _called_names(node.value, fn)
            except SyntaxError:
                pass
        yield from _called_names(node, node.name if isinstance(node, ast.FunctionDef) else fn)


def test_triples_built_only_by_the_pipeline_chains():
    # stages A-D end in to_triples only inside pipeline.skeleton_triples and
    # pipeline.text_triples; every other job calls one of those
    paths = [*_library_sources(), *sorted((ROOT / "scripts").glob("*.py"))]
    offenders = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in paths
        if path != ROOT / "autoextraction_spark" / "pipeline.py"
        for line, name, _, _ in _called_names(path.read_text())
        if name == "to_triples"
    ]
    assert offenders == []


def test_input_tables_read_only_by_read_table():
    # every read of an sf dir's tables goes through corpus.read_table, which
    # declares their types and checks a footer; tables the library wrote
    # itself (pipeline stages, streaming stores) are read from other dirs
    paths = [*_library_sources(), *sorted((ROOT / "scripts").glob("*.py"))]
    offenders = [
        f"{path.relative_to(ROOT)}:{fn}:{line}"
        for path in paths
        for line, name, call, fn in _called_names(path.read_text())
        if name == "parquet"
        and any(getattr(n, "id", None) == "sf_dir" for a in call.args for n in ast.walk(a))
        and (path.name, fn) != ("corpus.py", "read_table")
    ]
    assert offenders == []


def _store_bypasses(name: str, src: str):
    """(line, kind) of every persisted write (``.write``), stream start
    (``.writeStream``) and parquet read (``.read`` … ``.parquet``) in the
    source ``src`` of file ``name`` that is not store.py's own, nor
    ``corpus.read_table``'s input-table read."""
    tree = ast.parse(src)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute) or name == "store.py":
            continue
        if node.attr in ("write", "writeStream"):
            yield node.lineno, node.attr
        elif node.attr == "parquet" and (name, _enclosing_def(parents, node)) != (
            "corpus.py", "read_table"
        ):
            recv = node.value
            while isinstance(recv, (ast.Attribute, ast.Call)):
                if isinstance(recv, ast.Attribute) and recv.attr == "read":
                    yield node.lineno, "read.parquet"
                    break
                recv = recv.func if isinstance(recv, ast.Call) else recv.value


def test_library_tables_written_and_read_only_through_store():
    # every table the library writes goes through store.stage or
    # store.write_epoch, every stream starts in store.run_available, and
    # every parquet read is store.read (declared from the manifest) or
    # corpus.read_table (declared from the input catalog)
    offenders = [
        f"{path.relative_to(ROOT)}:{line}:{kind}"
        for path in _library_sources()
        for line, kind in _store_bypasses(path.name, path.read_text())
    ]
    assert offenders == []
    planted = "def op(df, path):\n    df.select('x').write.mode('append').parquet(path)\n"
    assert list(_store_bypasses("graph.py", planted)) == [(2, "write")]


def _enclosing_def(parents, node):
    while node in parents and not isinstance(node, ast.FunctionDef):
        node = parents[node]
    return getattr(node, "name", None)


def _top_def(parents, node):
    name = None
    while node in parents:
        node = parents[node]
        if isinstance(node, ast.FunctionDef):
            name = node.name
    return name


def _is_col_ref(node) -> bool:
    """``F.col("x")``, ``col("x")`` or ``df["x"]``."""
    if isinstance(node, ast.Call):
        return (getattr(node.func, "attr", None) or getattr(node.func, "id", None)) == "col"
    return isinstance(node, ast.Subscript) and isinstance(
        getattr(node.slice, "value", None), str
    )


def _receiver_calls(call: ast.Call):
    """Method names of the calls below ``call`` in its receiver chain."""
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Attribute):
                return
            yield node.func.attr
            node = node.func
        node = node.value


#: (file, top-level function) whose ordered column comparisons in a join are
#: not blocking self-joins
ORDERED_JOINS_ALLOWED = {
    # an asymmetric probe: new docs against index ∪ earlier new docs
    ("dedup.py", "incremental_minhash_dedup"),
    # the relaxation keeps a strictly cheaper cost
    ("graph.py", "weighted_shortest_paths"),
    # large-star: neighbours above a node attach to its neighbourhood min
    ("canonicalize.py", "_large_star"),
    # the keyless cross product of the few sketch groups
    ("sketch.py", "kmv_jaccard"),
    # event-time order: a later funnel step, a purchase after a signup
    ("__spark_entry__.py", "q_event_funnel"),
    ("__spark_entry__.py", "q_cooccur_pairs"),
}


def test_no_ordered_pair_join_outside_materialize():
    # an `id_a < id_b` pair join is a blocking self-join: it goes through
    # co_key_pairs, whose docstring states what a giant block costs
    hits = set()
    for path in _library_sources():
        if path.name in ("materialize.py", "oracle.py"):
            continue
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        assigned = defaultdict(list)
        for a in ast.walk(tree):
            if isinstance(a, ast.Assign):
                for t in a.targets:
                    assigned[_top_def(parents, a), getattr(t, "id", None)].append(a.value)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            method = node.func.attr
            if method != "join" and not (
                method in ("filter", "where") and "join" in _receiver_calls(node)
            ):
                continue
            fn = _top_def(parents, node)
            args = [*node.args, *(k.value for k in node.keywords)]
            # a condition built first (`cond = ...; a.join(b, cond)`)
            args += [v for a in args if isinstance(a, ast.Name) for v in assigned[fn, a.id]]
            for arg in args:
                for cmp in ast.walk(arg):
                    if not isinstance(cmp, ast.Compare):
                        continue
                    sides = [cmp.left, *cmp.comparators]
                    if any(
                        isinstance(op, (ast.Lt, ast.Gt))
                        and _is_col_ref(x) and _is_col_ref(y)
                        for op, x, y in zip(cmp.ops, sides, sides[1:])
                    ):
                        hits.add((path.name, fn, cmp.lineno))
    offenders = sorted(h for h in hits if h[:2] not in ORDERED_JOINS_ALLOWED)
    assert offenders == []
    # every allowed function still holds such a join: the list stays exact
    assert {h[:2] for h in hits} == ORDERED_JOINS_ALLOWED


def test_no_checkpoint_outside_materialize():
    offenders = []
    for path in _library_sources():
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            # checkpoints and driver rows enter a plan only through
            # materialize (ckpt, local_table)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "createDataFrame", "inline")
                and path.name != "materialize.py"
            ):
                offenders.append(f"{rel}:{node.lineno} {node.func.attr}")
            name = getattr(node, "id", None) or getattr(node, "attr", None)
            if isinstance(node, ast.alias):
                name = node.name
            if name == "Observation" and path.name != "materialize.py":
                offenders.append(f"{rel}:{node.lineno} Observation")
            # row counts come from ckpt_stats; the one isEmpty() left is
            # connected_components' exceptAll test, run only when the
            # carried edge counts tie
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "isEmpty"
                and (path.name, _enclosing_def(parents, node))
                != ("canonicalize.py", "connected_components")
            ):
                offenders.append(f"{rel}:{node.lineno} isEmpty")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "materialize" for p in params):
                    offenders.append(f"{rel}:{node.lineno} materialize= option")
    assert offenders == []
