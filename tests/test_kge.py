"""KG-embedding training (TransE, DistMult, ComplEx) + link prediction
(operators/kge.py)."""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import kge


def _round9(x: float) -> float:
    """Spark-semantics round(x, 9): shortest-decimal repr then HALF_UP —
    what Spark's BigDecimal.valueOf(double).setScale(9, HALF_UP) computes
    (numpy.round is half-even and disagrees on .5 decimal boundaries)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _reference_transe(triples, dim=4, iters=2, lr=0.05, margin=1.0, neg_offset=7):
    """Plain-numpy replay of the SAME deterministic algorithm — independent
    of both the Spark and the SQL implementations."""
    ents = sorted({s for _, s, _ in triples} | {o for _, _, o in triples})
    rels = sorted({p for p, _, _ in triples})
    erank = {e: i for i, e in enumerate(ents)}
    rrank = {r: i for i, r in enumerate(rels)}
    n = len(ents)
    ea, eb, em = kge.ENT_INIT
    ra, rb, rm = kge.REL_INIT
    E = np.array(
        [[((erank[e] * ea + d * eb) % em) / em - 0.5 for d in range(dim)] for e in ents]
    )
    R = np.array(
        [[((rrank[r] * ra + d * rb) % rm) / rm - 0.5 for d in range(dim)] for r in rels]
    )
    trip = sorted({(p, s, o) for p, s, o in triples})
    negs = {t: ents[(erank[t[2]] + neg_offset) % n] for t in trip}
    for _ in range(iters):
        gE = np.zeros_like(E)
        gR = np.zeros_like(R)
        for p, s, o in trip:
            h, r, t = E[erank[s]], R[rrank[p]], E[erank[o]]
            nv = E[erank[negs[(p, s, o)]]]
            dp, dn = h + r - t, h + r - nv
            if round(margin + (dp * dp).sum() - (dn * dn).sum(), 9) > 0:
                gE[erank[s]] += 2 * (dp - dn)
                gR[rrank[p]] += 2 * (dp - dn)
                gE[erank[o]] += -2 * dp
                gE[erank[negs[(p, s, o)]]] += 2 * dn
        # the engine re-quantizes the embedding tables to 9 decimals at
        # every iteration boundary (engine-independent trajectory) — use
        # Spark's HALF_UP semantics (not numpy's half-even) and the same
        # boundary-avoiding QUANT_EPS offset
        E = np.vectorize(_round9)(E - lr * gE + kge.QUANT_EPS)
        R = np.vectorize(_round9)(R - lr * gR + kge.QUANT_EPS)
    return ents, rels, E, R


@pytest.fixture(scope="module")
def tiny_kg(spark):
    rows = [
        ("works_for", "alice", "acme"),
        ("works_for", "bob", "nimbus"),
        ("based_in", "acme", "oslo"),
        ("based_in", "nimbus", "oslo"),
        ("founded", "carol", "acme"),
        ("acquired", "acme", "nimbus"),
    ]
    df = spark.createDataFrame(rows, "pred string, subj string, obj string")
    return rows, df


def test_transe_training_reduces_hinge_loss(tiny_kg):
    rows, df = tiny_kg

    def loss(E, R, ents, rels, margin=1.0, neg_offset=7):
        erank = {e: i for i, e in enumerate(ents)}
        rrank = {r: i for i, r in enumerate(rels)}
        n = len(ents)
        tot = 0.0
        for p, s, o in sorted({tuple(t) for t in rows}):
            dp = E[erank[s]] + R[rrank[p]] - E[erank[o]]
            dn = E[erank[s]] + R[rrank[p]] - E[(erank[o] + neg_offset) % n]
            tot += max(0.0, margin + (dp * dp).sum() - (dn * dn).sum())
        return tot

    ents, rels, E0, R0 = _reference_transe(rows, iters=0)
    _, _, E2, R2 = _reference_transe(rows, iters=2)
    assert loss(E2, R2, ents, rels) < loss(E0, R0, ents, rels)
    # and the Spark-trained table equals the improved state (test above),
    # so the distributed trainer inherits the same loss reduction


def test_link_predict_argmin_and_tiebreak(spark):
    # hand-set embeddings: h + r = (1, 0); candidates b/c tie at distance 0
    # from (1,0) is impossible here, so craft an exact tie between b and c
    ent = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 0.0),
         ("b", 0, 2.0), ("b", 1, 0.0),
         ("c", 0, 0.0), ("c", 1, 0.0)],
        "name string, d int, val double",
    )
    rel = spark.createDataFrame(
        [("r", 0, 0.0), ("r", 1, 0.0)], "name string, d int, val double"
    )
    q = spark.createDataFrame([("a", "r")], "subj string, pred string")
    got = kge.link_predict(ent, rel, q).collect()
    assert len(got) == 1
    row = got[0]
    # candidates: a at 0, b and c both at distance 1 -> a wins (its own
    # vector); score is the squared L2 distance
    assert (row.subj, row.pred, row.predicted) == ("a", "r", "a")
    assert row.score == pytest.approx(0.0, abs=1e-12)


def test_link_predict_name_tiebreak(spark):
    # h + r = 1; candidates h(0), a(2), b(0) ALL at squared distance 1 —
    # a three-way exact tie must resolve to the minimal name 'a'
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("a", 0, 2.0), ("b", 0, 0.0)],
        "name string, d int, val double",
    )
    rel = spark.createDataFrame([("r", 0, 1.0)], "name string, d int, val double")
    q = spark.createDataFrame([("h", "r")], "subj string, pred string")
    got = kge.link_predict(ent, rel, q).collect()
    assert len(got) == 1
    assert got[0].predicted == "a"
    assert got[0].score == pytest.approx(1.0, abs=1e-12)


def test_rank_eval_metrics(spark):
    # 1-d embeddings, r = 0: candidate scores are squared distances to h
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("t", 0, 1.0), ("u", 0, 2.0), ("v", 0, 3.0)],
        "name string, d int, val double",
    )
    rel = spark.createDataFrame([("r", 0, 0.0)], "name string, d int, val double")
    # true tail t: candidates h(0) < t(1) < u(4) < v(9) -> rank(t) = 2
    test = spark.createDataFrame([("h", "r", "t")], "subj string, pred string, obj string")
    row = kge.rank_eval(ent, rel, test).collect()[0]
    assert row.n_test == 1
    assert row.mrr == 0.5
    assert row.hits_1 == 0.0 and row.hits_3 == 1.0 and row.hits_10 == 1.0
    assert row.n_dropped == 0


def test_rank_eval_reports_oov_drops(spark):
    # a test triple whose obj has no embedding must not silently deflate
    # n_test: it is counted in n_dropped instead (ADVICE r4)
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("t", 0, 1.0)], "name string, d int, val double"
    )
    rel = spark.createDataFrame([("r", 0, 0.0)], "name string, d int, val double")
    test = spark.createDataFrame(
        [("h", "r", "t"), ("h", "r", "unseen"), ("ghost", "r", "t")],
        "subj string, pred string, obj string",
    )
    row = kge.rank_eval(ent, rel, test).collect()[0]
    assert row.n_test == 1
    assert row.n_dropped == 2


def test_rank_eval_tie_uses_name_order(spark):
    # h + r = 0; true tail 'b' at distance 1 ties with 'a' and 'c'.
    # strictly-smaller: h(0); ties smaller by name: a -> rank = 1 + 1 + 1 = 3
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("a", 0, 1.0), ("b", 0, -1.0), ("c", 0, 1.0)],
        "name string, d int, val double",
    )
    rel = spark.createDataFrame([("r", 0, 0.0)], "name string, d int, val double")
    test = spark.createDataFrame([("h", "r", "b")], "subj string, pred string, obj string")
    row = kge.rank_eval(ent, rel, test).collect()[0]
    assert row.n_test == 1
    assert row.mrr == pytest.approx(1 / 3, abs=1e-6)


def test_link_predict_ann_recall_vs_brute_force(tiny_kg):
    """The ANN path (LSH candidates + exact re-rank) must agree with the
    brute-force argmin wherever it emits a winner, and reach recall@1 ≥ 0.5
    on the tiny graph with the default 4-table sizing."""
    rows, df = tiny_kg
    ent, rel, tr = kge.transe_train(df, dim=4, iters=2)
    q = tr.select("subj", "pred").distinct()
    bf = {
        (r.subj, r.pred): r.predicted
        for r in kge.link_predict(ent, rel, q).collect()
    }
    got = kge.link_predict_ann(ent, rel, q).collect()
    assert {(r.subj, r.pred) for r in got} == set(bf)
    hits = 0
    for r in got:
        assert r.hit in (0, 1)
        if r.predicted is not None and r.predicted == bf[(r.subj, r.pred)]:
            assert r.hit == 1
            hits += 1
        else:
            assert r.hit == 0
    assert hits / len(got) >= 0.5


def _reference_distmult(triples, dim=4, iters=2, lr=0.05, margin=1.0, neg_offset=7):
    """Plain-numpy replay of distmult_train — independent of both engines."""
    ents = sorted({s for _, s, _ in triples} | {o for _, _, o in triples})
    rels = sorted({p for p, _, _ in triples})
    erank = {e: i for i, e in enumerate(ents)}
    rrank = {r: i for i, r in enumerate(rels)}
    n = len(ents)
    ea, eb, em = kge.ENT_INIT
    ra, rb, rm = kge.REL_INIT
    E = np.array(
        [[((erank[e] * ea + d * eb) % em) / em - 0.5 for d in range(dim)] for e in ents]
    )
    R = np.array(
        [[((rrank[r] * ra + d * rb) % rm) / rm - 0.5 for d in range(dim)] for r in rels]
    )
    trip = sorted({(p, s, o) for p, s, o in triples})
    negs = {t: ents[(erank[t[2]] + neg_offset) % n] for t in trip}
    for _ in range(iters):
        gE = np.zeros_like(E)
        gR = np.zeros_like(R)
        for p, s, o in trip:
            h, r, t = E[erank[s]], R[rrank[p]], E[erank[o]]
            nv = E[erank[negs[(p, s, o)]]]
            hr = h * r
            sp, sn = (hr * t).sum(), (hr * nv).sum()
            if round(margin - sp + sn, 9) > 0:
                nmt = nv - t
                gE[erank[s]] += r * nmt
                gR[rrank[p]] += h * nmt
                gE[erank[o]] += -hr
                gE[erank[negs[(p, s, o)]]] += hr
        E = np.vectorize(_round9)(E - lr * gE + kge.QUANT_EPS)
        R = np.vectorize(_round9)(R - lr * gR + kge.QUANT_EPS)
    return ents, rels, E, R


def test_distmult_training_moves_weights(tiny_kg):
    rows, _ = tiny_kg
    _, _, E0, R0 = _reference_distmult(rows, iters=0)
    _, _, E2, R2 = _reference_distmult(rows, iters=2)
    assert not np.allclose(E0, E2)  # some hinge violations fired

    def loss(E, R, ents, rels, margin=1.0, neg_offset=7):
        erank = {e: i for i, e in enumerate(ents)}
        rrank = {r: i for i, r in enumerate(rels)}
        n = len(ents)
        tot = 0.0
        for p, s, o in sorted({tuple(t) for t in rows}):
            hr = E[erank[s]] * R[rrank[p]]
            sp = (hr * E[erank[o]]).sum()
            sn = (hr * E[(erank[o] + neg_offset) % n]).sum()
            tot += max(0.0, margin - sp + sn)
        return tot

    ents, rels, _, _ = _reference_distmult(rows, iters=0)
    assert loss(E2, R2, ents, rels) < loss(E0, R0, ents, rels)


def _reference_complex(triples, dim=4, iters=2, lr=0.05, margin=1.0, neg_offset=7):
    """Plain-numpy replay of complex_train (packed 2*dim layout) —
    independent of both engines."""
    ents = sorted({s for _, s, _ in triples} | {o for _, _, o in triples})
    rels = sorted({p for p, _, _ in triples})
    erank = {e: i for i, e in enumerate(ents)}
    rrank = {r: i for i, r in enumerate(rels)}
    n = len(ents)
    ea, eb, em = kge.ENT_INIT
    ra, rb, rm = kge.REL_INIT
    E = np.array(
        [[((erank[e] * ea + d * eb) % em) / em - 0.5 for d in range(2 * dim)]
         for e in ents]
    )
    R = np.array(
        [[((rrank[r] * ra + d * rb) % rm) / rm - 0.5 for d in range(2 * dim)]
         for r in rels]
    )
    trip = sorted({(p, s, o) for p, s, o in triples})
    negs = {t: ents[(erank[t[2]] + neg_offset) % n] for t in trip}
    for _ in range(iters):
        gE = np.zeros_like(E)
        gR = np.zeros_like(R)
        for p, s, o in trip:
            h, r, t = E[erank[s]], R[rrank[p]], E[erank[o]]
            nv = E[erank[negs[(p, s, o)]]]
            hre, him = h[:dim], h[dim:]
            rre, rim = r[:dim], r[dim:]
            tre, tim = t[:dim], t[dim:]
            nre, nim = nv[:dim], nv[dim:]
            hr_re = hre * rre - him * rim
            hr_im = him * rre + hre * rim
            sp = (hr_re * tre + hr_im * tim).sum()
            sn = (hr_re * nre + hr_im * nim).sum()
            if round(margin - sp + sn, 9) > 0:
                nmt_re, nmt_im = nre - tre, nim - tim
                gE[erank[s], :dim] += rre * nmt_re + rim * nmt_im
                gE[erank[s], dim:] += rre * nmt_im - rim * nmt_re
                gR[rrank[p], :dim] += hre * nmt_re + him * nmt_im
                gR[rrank[p], dim:] += hre * nmt_im - him * nmt_re
                gE[erank[o], :dim] += -hr_re
                gE[erank[o], dim:] += -hr_im
                gE[erank[negs[(p, s, o)]], :dim] += hr_re
                gE[erank[negs[(p, s, o)]], dim:] += hr_im
        E = np.vectorize(_round9)(E - lr * gE + kge.QUANT_EPS)
        R = np.vectorize(_round9)(R - lr * gR + kge.QUANT_EPS)
    return ents, rels, E, R


#: (trainer, numpy reference, coordinates per dim) — every public trainer
#: runs through the shared kge._train loop
TRAINERS = [
    pytest.param(kge.transe_train, _reference_transe, 1, id="transe"),
    pytest.param(kge.distmult_train, _reference_distmult, 1, id="distmult"),
    pytest.param(kge.complex_train, _reference_complex, 2, id="complex"),
]


@pytest.mark.parametrize(
    "kw",
    [
        pytest.param({}, id="defaults"),
        pytest.param(
            dict(dim=3, iters=3, lr=0.1, margin=0.5, neg_offset=2), id="custom"
        ),
    ],
)
@pytest.mark.parametrize("train, reference, width", TRAINERS)
def test_trainer_matches_numpy_reference(tiny_kg, train, reference, width, kw):
    """Every hyperparameter reaches the shared loop: the Spark trajectory
    equals the numpy replay at the defaults and at a non-default set."""
    rows, df = tiny_kg
    ent, rel, _ = train(df, **kw)
    ents, rels, E, R = reference(rows, **kw)
    n = width * kw.get("dim", 4)
    got_e = {(r.name, r.d): r.val for r in ent.collect()}
    got_r = {(r.name, r.d): r.val for r in rel.collect()}
    assert len(got_e) == len(ents) * n and len(got_r) == len(rels) * n
    for i, e in enumerate(ents):
        for d in range(n):
            assert got_e[(e, d)] == pytest.approx(E[i, d], abs=1e-9), (e, d)
    for i, r in enumerate(rels):
        for d in range(n):
            assert got_r[(r, d)] == pytest.approx(R[i, d], abs=1e-9), (r, d)
    _, _, E0, R0 = reference(rows, **{**kw, "iters": 0})
    # a hinge fired: some weight moved by more than the 9-decimal re-quantization
    assert not (np.allclose(E0, E) and np.allclose(R0, R))


def test_trainer_jobs_keep_caller_job_group(spark, tiny_kg):
    """Jobs the trainer runs on its concurrent checkpoint threads carry the
    caller's job group: the group holds every job between two marker jobs,
    so group-level job accounting and cancelJobGroup see the whole call."""
    _, df = tiny_kg
    sc = spark.sparkContext

    def marker():
        sc.setJobGroup("kge-marker", "marker")
        sc.parallelize([0], 1).count()

    marker()
    try:
        sc.setJobGroup("kge-caller", "trainer call")
        ent, _, _ = kge.transe_train(df, iters=1)
        ent.collect()
        marker()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    m0, m1 = sorted(st.getJobIdsForGroup("kge-marker"))
    in_group = st.getJobIdsForGroup("kge-caller")
    assert m1 - m0 - 1 > 0
    assert len(in_group) == m1 - m0 - 1


def test_complex_training_moves_weights_and_reduces_loss(tiny_kg):
    rows, _ = tiny_kg
    ents, rels, E0, R0 = _reference_complex(rows, iters=0)
    _, _, E2, R2 = _reference_complex(rows, iters=2)
    assert not np.allclose(E0, E2)  # some hinge violations fired

    def loss(E, R, dim=4, margin=1.0, neg_offset=7):
        erank = {e: i for i, e in enumerate(ents)}
        rrank = {r: i for i, r in enumerate(rels)}
        n = len(ents)
        tot = 0.0
        for p, s, o in sorted({tuple(t) for t in rows}):
            h, r, t = E[erank[s]], R[rrank[p]], E[erank[o]]
            nv = E[(erank[o] + neg_offset) % n]
            hr_re = h[:dim] * r[:dim] - h[dim:] * r[dim:]
            hr_im = h[dim:] * r[:dim] + h[:dim] * r[dim:]
            sp = (hr_re * t[:dim] + hr_im * t[dim:]).sum()
            sn = (hr_re * nv[:dim] + hr_im * nv[dim:]).sum()
            tot += max(0.0, margin - sp + sn)
        return tot

    assert loss(E2, R2) < loss(E0, R0)


def test_complex_score_is_asymmetric(tiny_kg):
    """The reason ComplEx exists: score(h, r, t) != score(t, r, h) in
    general (DistMult is symmetric by construction)."""
    rows, _ = tiny_kg
    ents, rels, E, R = _reference_complex(rows, iters=2)
    dim = 4
    erank = {e: i for i, e in enumerate(ents)}

    def score(s, p, o):
        h, r, t = E[erank[s]], R[rels.index(p)], E[erank[o]]
        hr_re = h[:dim] * r[:dim] - h[dim:] * r[dim:]
        hr_im = h[dim:] * r[:dim] + h[:dim] * r[dim:]
        return (hr_re * t[:dim] + hr_im * t[dim:]).sum()

    p, s, o = sorted({tuple(t) for t in rows})[0]
    assert score(s, p, o) != pytest.approx(score(o, p, s), abs=1e-12)


def test_rank_eval_filtered_excludes_known_tails(spark):
    # 1-d embeddings, r = 0: candidate scores are squared distances to h.
    # True tail t (dist 1) is outranked raw by h itself (0) AND by known
    # tail k (0.25): raw rank 3. Filtered removes k (known true answer for
    # (h, r)) but keeps h (not a known tail): filtered rank 2.
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("t", 0, 1.0), ("k", 0, 0.5), ("v", 0, 3.0)],
        "name string, d int, val double",
    )
    rel = spark.createDataFrame([("r", 0, 0.0)], "name string, d int, val double")
    test = spark.createDataFrame(
        [("h", "r", "t")], "subj string, pred string, obj string"
    )
    known = spark.createDataFrame(
        [("h", "r", "t"), ("h", "r", "k")], "subj string, pred string, obj string"
    )
    raw = kge.rank_eval(ent, rel, test).collect()[0]
    assert raw.mrr == pytest.approx(1 / 3, abs=1e-6)
    filt = kge.rank_eval(ent, rel, test, known=known).collect()[0]
    assert filt.n_test == 1 and filt.n_dropped == 0
    assert filt.mrr == pytest.approx(1 / 2, abs=1e-6)


def test_rank_eval_filtered_keeps_true_tail_rankable(spark):
    # the queried tail is itself in `known` (test ⊆ known by convention) —
    # it must survive the filter and still be ranked
    ent = spark.createDataFrame(
        [("h", 0, 0.0), ("t", 0, 1.0)], "name string, d int, val double"
    )
    rel = spark.createDataFrame([("r", 0, 0.0)], "name string, d int, val double")
    test = spark.createDataFrame(
        [("h", "r", "t")], "subj string, pred string, obj string"
    )
    row = kge.rank_eval(ent, rel, test, known=test).collect()[0]
    assert row.n_test == 1
    # only h (not a known tail) outranks t: rank 2
    assert row.mrr == pytest.approx(1 / 2, abs=1e-6)
