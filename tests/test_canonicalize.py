"""Connected components (stage F) on hand-built graphs."""

import pytest

from autoextraction_spark.operators.canonicalize import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.component for r in connected_components(df, **kw).collect()}


@pytest.mark.parametrize("thr", [0, 64 * 2**20])  # distributed and driver paths
def test_chain_converges_to_min(spark, thr):
    # d-c-b-a chain: min-label must propagate the full diameter
    got = _cc(spark, [("d", "c"), ("c", "b"), ("b", "a")], small_graph_max_bytes=thr)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_two_components(spark):
    got = _cc(spark, [("b", "a"), ("y", "z")])
    assert got == {"a": "a", "b": "a", "y": "y", "z": "y"}


@pytest.mark.parametrize("thr", [0, 64 * 2**20])
def test_cycle_and_self_loop(spark, thr):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("q", "q")],
              small_graph_max_bytes=thr)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["q"] == "q"


@pytest.mark.parametrize("thr", [0, 64 * 2**20])
def test_null_endpoint_is_its_own_component(spark, thr):
    # both paths: NULL is a node labelled NULL and a pair with a NULL
    # endpoint adds no edge, so b-NULL-c does not join {a, b} to {c, d}
    got = _cc(spark, [("a", "b"), ("b", None), (None, "c"), ("c", "d")],
              small_graph_max_bytes=thr)
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", None: None}


def test_long_chain_converges_in_log_rounds(spark):
    # 1000-node path: plain min-label propagation needs 999 rounds; the
    # large-star/small-star alternation must finish within O(log n) —
    # max_iter=12 would RAISE if convergence were diameter-bound
    n = 1000
    edges = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)]
    got = _cc(spark, edges, max_iter=12, small_graph_max_bytes=0)
    assert len(got) == n
    assert set(got.values()) == {"n0000"}


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(63)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, small_graph_max_bytes=0)


def test_random_graph_matches_union_find(spark):
    # pseudo-random graph vs a driver-side union-find ground truth
    edges = []
    x = 1
    for _ in range(400):
        x = (x * 48271) % 2147483647
        a, b = x % 300, (x // 7) % 300
        edges.append((f"v{a:03d}", f"v{b:03d}"))
    parent: dict[str, str] = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {u: find(u) for u in parent}
    # the driver fast path and the distributed star loop must both match
    got_driver = _cc(spark, edges)
    got_dist = _cc(spark, edges, small_graph_max_bytes=0)
    assert got_driver == expect
    assert got_dist == expect


def test_byte_bound_picks_path(spark):
    """The fast-path gate is a BYTE estimate, not an edge count: 50 edges
    with ~500-char keys blow a 4 KB byte budget and must take the
    distributed path (probed via max_iter=1 raising on a chain), while the
    same graph under the default 64 MiB budget resolves at the driver."""
    long_key = "m" * 500
    edges = [(f"{long_key}{i:03d}", f"{long_key}{i + 1:03d}") for i in range(50)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, small_graph_max_bytes=4096)
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert set(got.values()) == {f"{long_key}000"}
