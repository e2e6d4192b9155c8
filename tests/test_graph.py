"""Entity PageRank / degree stats over the KG edge graph (graph.py)."""

import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import graph


def _reference_pagerank(edges, d=0.85, iters=3):
    """Plain-python fixed-iteration damped PageRank with uniform dangling
    redistribution — the formula under test, independently implemented."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {n: 0 for n in nodes}
    for u, _ in edges:
        out[u] += 1
    n = float(len(nodes))
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(r for v, r in rank.items() if out[v] == 0)
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += rank[u] / out[u]
        rank = {
            v: (1.0 - d) / n + d * (contrib[v] + dang / n) for v in nodes
        }
    return rank


@pytest.fixture(scope="module")
def diamond(spark):
    # a -> b, a -> c, b -> d, c -> d; d dangling
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    return edges, df


def test_pagerank_matches_reference_formula(diamond):
    edges, df = diamond
    got = {r.entity: r for r in graph.entity_pagerank(df).collect()}
    want = _reference_pagerank(edges)
    assert set(got) == set(want)
    for v, expect in want.items():
        assert got[v].pagerank == pytest.approx(expect, abs=1e-6), v
    assert (got["a"].out_deg, got["a"].in_deg) == (2, 0)
    assert (got["d"].out_deg, got["d"].in_deg) == (0, 2)
    # total mass conserved (dangling redistributed, not dropped)
    assert sum(r.pagerank for r in got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_sink_accumulates(diamond):
    _, df = diamond
    ranks = {r.entity: r.pagerank for r in graph.entity_pagerank(df).collect()}
    assert ranks["d"] > ranks["b"] == ranks["c"] > 0


def test_triple_edges_distinct(spark):
    triples = spark.createDataFrame(
        [("u1", "p", "s", "o"), ("u2", "q", "s", "o"), ("u3", "p", "s", "o2")],
        "url string, pred string, subj string, obj string",
    )
    got = {
        (r.src, r.dst) for r in graph.triple_edges(triples).collect()
    }
    assert got == {("s", "o"), ("s", "o2")}


# ------------------------------------------------------- reasoning operators

def test_rule_inference_chains_predicates(spark):
    triples = spark.createDataFrame(
        [
            ("u", "works_for", "alice", "acme"),
            ("u", "works_for", "bob", "nimbus"),
            ("u", "based_in", "acme", "oslo"),
            ("v", "based_in", "acme", "oslo"),  # duplicate fact, 2nd url
            ("u", "founded", "carol", "acme"),
        ],
        "url string, pred string, subj string, obj string",
    )
    rules = [
        ("works_for", "based_in", "employed_in"),
        ("founded", "based_in", "founded_in"),
    ]
    got = {
        (r.subj, r.pred, r.obj)
        for r in graph.rule_inference(triples, rules).collect()
    }
    # bob's org has no based_in fact -> no inference; duplicates collapse
    assert got == {
        ("alice", "employed_in", "oslo"),
        ("carol", "founded_in", "oslo"),
    }


def test_transitive_closure_min_depth_on_chain(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],
        "src string, dst string",
    )
    got = {
        (r.src, r.dst): r.depth
        for r in graph.transitive_closure(df, max_depth=8).collect()
    }
    # a->c is reachable at depth 2 via b but the DIRECT edge wins (min depth)
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1, ("a", "c"): 1,
        ("b", "d"): 2, ("a", "d"): 2,
    }


def test_transitive_closure_cycle_terminates(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {
        (r.src, r.dst): r.depth
        for r in graph.transitive_closure(df, max_depth=10).collect()
    }
    # every ordered pair reachable, incl. each node back to itself at depth 3
    assert got[("a", "a")] == got[("b", "b")] == got[("c", "c")] == 3
    assert len(got) == 9
    assert got[("a", "c")] == 2


def test_transitive_closure_depth_cap(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        (r.src, r.dst)
        for r in graph.transitive_closure(df, max_depth=2).collect()
    }
    assert ("a", "d") not in got  # needs depth 3
    assert ("a", "c") in got


def test_bfs_distances_min_hop_and_unreachable(spark):
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("s", "b"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(edges, seeds, max_depth=6).collect()
    }
    # b reachable at 1 (direct) even though a 2-hop path exists; x/y absent
    assert got == {"s": 0, "a": 1, "b": 1}


def test_triangle_counts_orientation_invariant(spark):
    # K4 minus one edge: triangles {a,b,c} and {a,b,d}; edge directions mixed
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "a"), ("b", "c"), ("a", "d"), ("d", "b")],
        "src string, dst string",
    )
    got = {
        r.entity: r.triangles
        for r in graph.triangle_counts(edges).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_triangle_counts_ignores_direction_duplicates(spark):
    # both directions of the same undirected edge must not double-count
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")],
        "src string, dst string",
    )
    got = {
        r.entity: r.triangles
        for r in graph.triangle_counts(edges).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


def test_export_int_ids_dense_and_consistent(spark):
    triples = spark.createDataFrame(
        [("u1", "works_for", "bob", "acme"),
         ("u2", "works_for", "alice", "acme"),
         ("u3", "based_in", "acme", "oslo")],
        "url string, pred string, subj string, obj string",
    )
    rows = graph.export_int_ids(triples).collect()
    # entities sorted: acme=0, alice=1, bob=2, oslo=3; preds: based_in=0, works_for=1
    got = {(r.src_id, r.pred_id, r.dst_id) for r in rows}
    assert got == {(2, 1, 0), (1, 1, 0), (0, 0, 3)}


def test_conjunctive_query_bgp(spark):
    triples = spark.createDataFrame(
        [("u", "works_for", "alice", "acme"),
         ("u", "based_in", "acme", "oslo"),
         ("u", "born_in", "alice", "oslo"),     # alice matches all 3
         ("u", "works_for", "bob", "acme"),
         ("u", "born_in", "bob", "rome")],      # bob born elsewhere -> no match
        "url string, pred string, subj string, obj string",
    )
    pats = [("p", "works_for", "o"), ("o", "based_in", "c"), ("p", "born_in", "c")]
    got = [(r.p, r.o, r.c) for r in graph.conjunctive_query(triples, pats).collect()]
    assert got == [("alice", "acme", "oslo")]


def test_conjunctive_query_self_loop_pattern(spark):
    # (?x pred ?x) is a valid BGP — one output column, subj == obj folded
    # into the scan (ADVICE r4: engine used to emit two same-named columns)
    triples = spark.createDataFrame(
        [("u", "same_as", "acme", "acme"),
         ("u", "same_as", "alice", "bob"),
         ("u", "works_for", "acme", "oslo")],
        "url string, pred string, subj string, obj string",
    )
    got = graph.conjunctive_query(triples, [("x", "same_as", "x")])
    assert got.columns == ["x"]
    assert [r.x for r in got.collect()] == ["acme"]
    # and joined with a second pattern sharing the variable
    got2 = graph.conjunctive_query(
        triples, [("x", "same_as", "x"), ("x", "works_for", "y")]
    )
    assert [(r.x, r.y) for r in got2.collect()] == [("acme", "oslo")]


def test_schema_induction_types_and_counts(spark):
    triples = spark.createDataFrame(
        [("works_for", "alice", "acme"),
         ("works_for", "bob", "acme"),
         ("works_for", "alice", "mystery")],
        "pred string, subj string, obj string",
    )
    dicts = {"person": ["alice", "bob"], "org": ["acme"]}
    got = {
        (r.pred, r.subj_type, r.obj_type): r.n_facts
        for r in graph.schema_induction(triples, dicts).collect()
    }
    assert got == {
        ("works_for", "person", "org"): 2,
        ("works_for", "person", "other"): 1,
    }


def test_shared_neighbor_similarity_jaccard(spark):
    edges = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"),
         ("b", "x"), ("b", "y"),
         ("c", "z")],
        "src string, dst string",
    )
    got = {
        (r.a, r.b): (r.shared, r.jaccard)
        for r in graph.shared_neighbor_similarity(edges, min_shared=2).collect()
    }
    # only (a, b) share >= 2 neighbors: {x, y}; union = {x, y, z} -> 2/3
    assert set(got) == {("a", "b")}
    assert got[("a", "b")][0] == 2
    assert got[("a", "b")][1] == 0.666667


def test_personalized_pagerank_seed_locality(spark):
    # star around s plus a far pair x -> y unreachable from the seed
    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "s"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.entity: r.ppr for r in graph.personalized_pagerank(edges, seeds).collect()}
    # mass conserved over reachable set; unreachable x gets none (y only via
    # dangling? no — dangling mass returns to the SEED, so x = y = 0)
    assert got["x"] == 0.0 and got["y"] == 0.0
    # symmetric neighbors stay symmetric; everyone reachable holds mass
    # (s itself oscillates with iteration parity in this tiny cycle, so no
    # ordering claim between s and its neighbors)
    assert got["a"] == got["b"] > 0 and got["s"] > 0
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_personalized_pagerank_absent_seed_ignored(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("ghost",)], "node string")
    got = {r.entity: r.ppr for r in graph.personalized_pagerank(edges, seeds).collect()}
    # 'ghost' is not a node: ns must count only present seeds (a), so a's
    # initial mass is 1.0, not 0.5
    assert set(got) == {"a", "b"}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_label_propagation_two_cliques(spark):
    # two triangles bridged by nothing: labels converge to each clique's min
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    got = {r.entity: r.community for r in graph.label_propagation(edges, iters=3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_label_propagation_tie_breaks_to_min_label(spark):
    # star: center m with leaves p, q. Leaves see only m; m sees {p, q} tied
    edges = spark.createDataFrame(
        [("m", "p"), ("m", "q")], "src string, dst string"
    )
    got = {r.entity: r.community for r in graph.label_propagation(edges, iters=1).collect()}
    assert got["p"] == "m" and got["q"] == "m"
    assert got["m"] == "p"  # tie {p:1, q:1} -> min label


def test_hash_random_walks_deterministic_and_sink_truncated(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d")], "src string, dst string"
    )
    w1 = {(r.start, r.step): r.node for r in graph.hash_random_walks(edges, steps=3).collect()}
    w2 = {(r.start, r.step): r.node for r in graph.hash_random_walks(edges, steps=3).collect()}
    assert w1 == w2  # derandomized: identical corpus on re-run
    # every start emits step 0 = itself
    assert w1[("a", 0)] == "a" and w1[("b", 0)] == "b"
    # a's first hop is the hash-argmin of {b, c} — one of them, consistently
    assert w1[("a", 1)] in {"b", "c"}
    # b -> d, then d is a sink: the walk truncates (no step-2+ rows from b
    # beyond d, and d's own walk has only step 0)
    assert w1[("b", 1)] == "d"
    assert ("b", 2) not in w1
    assert [s for (st, s) in w1 if st == "d"] == []  # d not a src: no walk


def test_k_core_peels_iteratively(spark):
    # triangle a-b-c (2-core) with a pendant chain c-d-e: d has degree 2
    # BEFORE peeling but only via e (degree 1), so a single degree filter
    # keeps d — only iterative peeling removes e THEN d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {r.node: r.degree for r in graph.k_core(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_empty_when_overpeeled(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert graph.k_core(edges, k=2).count() == 0


def test_k_core_raises_on_iteration_cap(spark):
    # a 6-node path needs 3 peel rounds for k=2; cap at 1 must raise
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.k_core(edges, k=2, max_iter=1)


def test_harmonic_centrality_hand_computed(spark):
    # chain a->b->c: C(b) = 1 (from a at d=1); C(c) = 1 + 1/2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        r.node: (r.centrality, r.n_reaching)
        for r in graph.harmonic_centrality(edges, max_depth=4).collect()
    }
    assert got == {"b": (1.0, 1), "c": (1.5, 2)}


def test_strongly_connected_labels_cycles(spark):
    # cycle a->b->c->a; d feeds the cycle but is not in it; e->f acyclic;
    # g<->h a 2-cycle
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("e", "f"),
         ("g", "h"), ("h", "g")],
        "src string, dst string",
    )
    got = {
        r.node: (r.scc_id, r.scc_size)
        for r in graph.strongly_connected(df, max_depth=8).collect()
    }
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "d": ("d", 1), "e": ("e", 1), "f": ("f", 1),
        "g": ("g", 2), "h": ("g", 2),
    }


def test_strongly_connected_hop_cap_splits_long_cycles(spark):
    # a 4-cycle under a 3-hop cap: mutual reachability needs <=3 hops each
    # way, which holds for every pair in a 4-cycle EXCEPT none — each pair
    # has one direction <=3 — so the component survives; at cap 2 the
    # opposite-corner pairs (2 hops each way) still pair, but adjacent
    # pairs need 1 + 3 and split
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    full = {
        r.node: (r.scc_id, r.scc_size)
        for r in graph.strongly_connected(df, max_depth=4).collect()
    }
    assert full == {n: ("a", 4) for n in "abcd"}
    capped = {
        r.node: (r.scc_id, r.scc_size)
        for r in graph.strongly_connected(df, max_depth=2).collect()
    }
    assert capped == {
        "a": ("a", 2), "c": ("a", 2), "b": ("b", 2), "d": ("b", 2),
    }


def test_condensation_levels_longest_path(spark):
    # cycle {a,b,c} fed by root d, feeding e; plus a long alternative path
    # d->x->y->e so e's LONGEST-path level (3) beats its shortest (2)
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e"),
         ("d", "x"), ("x", "y"), ("y", "e")],
        "src string, dst string",
    )
    got = {
        r.node: (r.scc_id, r.level)
        for r in graph.condensation_levels(df, max_depth=8).collect()
    }
    assert got == {
        "d": ("d", 0),
        "a": ("a", 1), "b": ("a", 1), "c": ("a", 1),
        "x": ("x", 1), "y": ("y", 2),
        "e": ("e", 3),  # max(d->cycle->e = 2, d->x->y->e = 3)
    }


@pytest.mark.parametrize("max_levels", [1, 2])
def test_condensation_levels_raises_when_every_round_is_nonempty(spark, max_levels):
    # the chain a->b->c->d has non-empty frontiers at levels 1..3; a cap
    # below the longest path sees round max_levels + 1 non-empty
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="max_levels"):
        graph.condensation_levels(df, max_levels=max_levels)


def test_condensation_levels_converges_one_round_past_longest_path(spark):
    # a cap equal to the longest path converges: round max_levels + 1 is
    # probed and found empty
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {r.node: r.level for r in graph.condensation_levels(df, max_levels=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_entity_pmi_hand_computed(spark):
    import math

    # 4 pages: (a,b) together twice, (a,c) once, (b) alone once
    triples = spark.createDataFrame(
        [("u1", "p", "a", "b"), ("u2", "p", "a", "b"),
         ("u3", "p", "a", "c"), ("u4", "p", "b", "b")],
        "url string, pred string, subj string, obj string",
    )
    got = {
        (r.e1, r.e2): (r.c_pair, r.pmi)
        for r in graph.entity_pmi(triples).collect()
    }
    # N=4; c_a=3, c_b=3, c_c=1; pairs: (a,b)=2, (a,c)=1
    assert got == {
        ("a", "b"): (2, round(math.log(4 * 2 / (3 * 3)), 6)),
        ("a", "c"): (1, round(math.log(4 * 1 / (3 * 1)), 6)),
    }
    # positive association for (a,c) (always together given c), negative
    # for (a,b) (3/4 pages each but together only half the time)
    assert got[("a", "c")][1] > 0 > got[("a", "b")][1]


def test_canonical_paths_greedy_min_witness(spark):
    # two 2-hop routes a->b->d and a->c->d: greedy keeps 'a->b->d';
    # direct edge a->e stays depth 1; cycle path closes back to a
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "e"),
         ("d", "a")],
        "src string, dst string",
    )
    got = {
        (r.src, r.dst): (r.depth, r.path)
        for r in graph.canonical_paths(df, max_depth=8).collect()
    }
    assert got[("a", "d")] == (2, "a->b->d")
    assert got[("a", "e")] == (1, "a->e")
    assert got[("a", "a")] == (3, "a->b->d->a")  # min cycle witness
    # pair universe == transitive closure's, depths match
    cl = {
        (r.src, r.dst): r.depth
        for r in graph.transitive_closure(df, max_depth=8).collect()
    }
    assert {k: v[0] for k, v in got.items()} == cl
    # every path is well-formed: starts at src, ends at dst, depth+1 nodes
    for (s, t), (d, p) in got.items():
        parts = p.split("->")
        assert parts[0] == s and parts[-1] == t and len(parts) == d + 1


def test_weighted_pagerank_shifts_rank_to_heavy_edges(spark):
    # a sends 9 links to b and 1 to c: weighted rank(b) >> rank(c);
    # unweighted treats both edges equally
    df = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1)], "src string, dst string, w long"
    )
    wr = {
        r.entity: r.pagerank
        for r in graph.entity_pagerank(df, weight_col="w").collect()
    }
    ur = {r.entity: r.pagerank for r in graph.entity_pagerank(df).collect()}
    assert ur["b"] == ur["c"]
    assert wr["b"] > wr["c"]
    # reference: one weighted iteration by hand (N=3, d=0.85, r0=1/3)
    # contrib(b) = (1/3)*0.9, contrib(c) = (1/3)*0.1; dangling = r(b)+r(c)
    import pytest as _pt

    d, n = 0.85, 3.0
    r = {v: 1 / n for v in "abc"}
    for _ in range(3):
        dang = r["b"] + r["c"]
        r = {
            "a": (1 - d) / n + d * (dang / n),
            "b": (1 - d) / n + d * (r["a"] * 0.9 + dang / n),
            "c": (1 - d) / n + d * (r["a"] * 0.1 + dang / n),
        }
    for v in "abc":
        assert wr[v] == _pt.approx(r[v], abs=1e-6)


def test_adamic_adar_weights_rare_neighbors(spark):
    import math

    # a and b share z (in-deg 2, rare) and h (in-deg 3, hub);
    # a and c share only h
    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("a", "h"), ("b", "h"), ("c", "h")],
        "src string, dst string",
    )
    got = {
        (r.a, r.b): (r.shared, r.aa)
        for r in graph.adamic_adar(edges, min_shared=1).collect()
    }
    assert got == {
        ("a", "b"): (2, round(1 / math.log(2) + 1 / math.log(3), 6)),
        ("a", "c"): (1, round(1 / math.log(3), 6)),
        ("b", "c"): (1, round(1 / math.log(3), 6)),
    }
    # the rare shared neighbor makes (a,b) stronger than the hub-only pairs
    assert got[("a", "b")][1] > got[("a", "c")][1]


def test_weighted_shortest_paths_prefers_cheaper_longer_route(spark):
    # s -> t direct costs 10; s -> a -> b -> t costs 1+1+1 = 3: the cheaper
    # route needs MORE hops, which a BFS would miss — the weighted relaxation
    # must keep improving t after its first (hop-minimal) discovery.
    edges = spark.createDataFrame(
        [("s", "t", 10), ("s", "a", 1), ("a", "b", 1), ("b", "t", 1)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.cost for r in
           graph.weighted_shortest_paths(edges, seeds, max_iter=8).collect()}
    assert got == {"s": 0, "a": 1, "b": 2, "t": 3}


def test_weighted_shortest_paths_cycle_and_unreachable(spark):
    # positive-weight cycle must drain the frontier; x is unreachable
    edges = spark.createDataFrame(
        [("s", "a", 2), ("a", "s", 2), ("x", "y", 1)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.cost for r in
           graph.weighted_shortest_paths(edges, seeds, max_iter=8).collect()}
    assert got == {"s": 0, "a": 2}


def test_community_modularity_two_cliques(spark):
    # two triangles joined by one bridge: LPA labels each triangle as one
    # community; per-community counts and dq follow the closed form.
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("d", "e"), ("e", "f"), ("d", "f")]
    edges = spark.createDataFrame(
        tri1 + tri2 + [("c", "d")], "src string, dst string"
    )
    rows = {r.community: r for r in
            graph.community_modularity(edges, iters=3).collect()}
    assert len(rows) == 2
    m = 7.0  # 6 clique edges + 1 bridge
    for r in rows.values():
        assert r.n_nodes == 3 and r.internal_edges == 3
        expect = 3 / m - (r.degree_sum / (2 * m)) ** 2
        assert abs(r.dq - round(expect, 9)) < 1e-12
    # degree sums: the bridged triangle has one extra endpoint degree
    assert sorted(r.degree_sum for r in rows.values()) == [7, 7]


def test_entity_type_inference_majority_and_tiebreak(spark):
    sigs = [("works_for", "person", "org"), ("based_in", "org", "city")]
    facts = spark.createDataFrame(
        [
            # "acme" votes org twice (obj of works_for, subj of based_in)
            ("works_for", "ann", "acme"),
            ("based_in", "acme", "paris"),
            # "bob" one person vote; "paris" one city vote
            ("works_for", "bob", "acme"),
        ],
        "pred string, subj string, obj string",
    )
    got = {r.entity: (r.etype, r.votes) for r in
           graph.entity_type_inference(facts, sigs).collect()}
    assert got["acme"] == ("org", 3)  # 2x obj-of-works_for + 1x subj-of-based_in
    assert got["ann"] == ("person", 1)
    assert got["paris"] == ("city", 1)
    # unsigned predicate rows vote nothing
    extra = spark.createDataFrame(
        [("unknown_pred", "x", "y")], "pred string, subj string, obj string"
    )
    assert graph.entity_type_inference(extra, sigs).count() == 0


def test_rule_mining_discovers_planted_chain(spark):
    from autoextraction_spark.operators.graph import rule_mining

    # plant p∘q ⇒ r with 3/4 confidence: paths (s1..s4 -p-> x -q-> o),
    # head facts r(s1,o) r(s2,o) r(s3,o) but NOT r(s4,o)
    rows = [(f"s{i}", "p", "x") for i in range(1, 5)]
    rows += [("x", "q", "o")]
    rows += [(f"s{i}", "r", "o") for i in range(1, 4)]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {
        (g.body_a, g.body_b, g.head_pred): (g.n_pairs, g.support, g.confidence)
        for g in rule_mining(df, min_support=3).collect()
    }
    assert got[("p", "q", "r")] == (4, 3, 0.75)
    # support threshold filters weaker heads
    assert all(v[1] >= 3 for v in got.values())


def test_implication_rules_directions(spark):
    from autoextraction_spark.operators.graph import implication_rules

    rows = [
        # p ⇒ q same-direction on 2 of 3 p-facts
        ("a", "p", "b"), ("c", "p", "d"), ("e", "p", "f"),
        ("a", "q", "b"), ("c", "q", "d"),
        # r is symmetric on one pair -> inverse r ⇒ r support 2 (both rows)
        ("g", "r", "h"), ("h", "r", "g"),
    ]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = {
        (g.p, g.q, g.direction): (g.support, g.n_p, g.confidence)
        for g in implication_rules(df, min_support=2).collect()
    }
    assert got[("p", "q", "same")] == (2, 3, 0.666667)
    assert got[("q", "p", "same")] == (2, 2, 1.0)
    assert got[("r", "r", "inverse")] == (2, 2, 1.0)


def test_apply_mined_rules_proposes_only_novel(spark):
    from autoextraction_spark.operators.graph import apply_mined_rules

    # p∘q ⇒ r at confidence 0.75 (3 of 4 endpoints known); firing it must
    # propose EXACTLY the one missing head fact, with provenance
    rows = [(f"s{i}", "p", "x") for i in range(1, 5)]
    rows += [("x", "q", "o")]
    rows += [(f"s{i}", "r", "o") for i in range(1, 4)]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    got = apply_mined_rules(df, min_support=3, min_confidence=0.5).collect()
    proposed = [
        (g.subj, g.pred, g.obj, g.body_a, g.body_b, g.confidence)
        for g in got
        if g.pred == "r"
    ]
    assert proposed == [("s4", "r", "o", "p", "q", 0.75)]
    # below the confidence floor nothing fires
    assert (
        apply_mined_rules(df, min_support=3, min_confidence=0.8).count() == 0
    )
