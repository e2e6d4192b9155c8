"""E13/E14 — distributed DQN training (operators/rl_train.py).

Covers: transition generation semantics (one transition per processed
(state, action), candidate forks, rewards = Environment.py:197 mean-max),
the distributed TD pass against a hand-computed numpy fitted-Q reference,
prioritized-race minibatch determinism, and the headline learning outcome:
under the two-step-lookahead shaped reward the trained linear Q learns the
OBJECT-FIRST opening on alt-phrased documents (the paper's order-sensitivity
claim, reproduced by actual training rather than the hand-coded policy).
"""

from __future__ import annotations

import ast
import math
import pathlib

import pytest

from autoextraction_spark import neural, scorers
from autoextraction_spark import schema as S
from autoextraction_spark.operators import rl_train

PRIM = "Alice Stone works for Acme Corp."
ALT = "Brian Rivera is at Helios Labs."


def _detected(spark, rows):
    return spark.createDataFrame(
        rows, "url string, rel string, text string, lang string"
    )


# ------------------------------------------------------------- E13 rollouts

def test_transitions_primary_doc(spark):
    det = _detected(spark, [("u1", "works_for", PRIM, "en")])
    rows = {
        (r["step"], r["given"], r["action"]): r
        for r in rl_train.generate_transitions(det).collect()
    }
    r0 = rows[(0, "", "subject")]
    assert r0["reward"] == 2.5 and r0["done"] is False and r0["n_next"] == 1
    assert len(r0["feats"]) == scorers.FEATURE_DIM
    # one fork -> one step-1 transition, anchored object extraction
    r1 = rows[(1, "Alice Stone", "object")]
    assert r1["reward"] == 2.5 and r1["done"] is True and r1["n_next"] == 1
    # next_feats: step-0 row has 1 fork x 1 remaining choice; step-1 none
    assert len(r0["next_feats"]) == 1 and len(r0["next_feats"][0]) == 1
    assert r1["next_feats"] == [[]]
    assert len(rows) == 2


def test_transitions_alt_doc_sequence_fails(spark):
    # subject-first on an alt-only doc: [None] fallback both steps
    det = _detected(spark, [("u1", "works_for", ALT, "en")])
    rows = {(r["step"], r["given"]): r for r in rl_train.generate_transitions(det).collect()}
    assert rows[(0, "")]["reward"] == 3.0
    r1 = rows[(1, S.NONE_SENTINEL)]
    assert r1["reward"] == 3.0 and r1["n_next"] == 1
    assert len(rows) == 2


def test_transitions_epsilon_explores_deterministically(spark):
    det = _detected(spark, [(f"u{i}", "works_for", PRIM, "en") for i in range(40)])
    a = rl_train.generate_transitions(det, epsilon=0.5, seed=3).collect()
    b = rl_train.generate_transitions(det, epsilon=0.5, seed=3).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))  # reproducible
    first = {r["url"]: r["action"] for r in a if r["step"] == 0}
    # with eps=0.5 across 40 urls, both openings must occur
    assert set(first.values()) == {"subject", "object"}


def test_transitions_lookahead_reward(spark):
    # E7 shaped reward: object-first on the alt doc unlocks gold mass,
    # subject-first unlocks none
    det = _detected(spark, [("u1", "works_for", ALT, "en")])
    gold = spark.createDataFrame(
        [("u1", "works_for", {"subject": "Brian Rivera", "object": "Helios Labs"})],
        "url string, rel string, slots map<string,string>",
    )
    seq = rl_train.generate_transitions(det, gold=gold, reward_mode="lookahead")
    r0 = [r for r in seq.collect() if r["step"] == 0][0]
    assert r0["action"] == "subject" and r0["reward"] == 0.0
    # force the object-first opening via a weight on the is_last feature
    w = [0.0] * scorers.FEATURE_DIM
    w[2] = 1.0
    obj_first = rl_train.generate_transitions(
        det, rl_train.learned_policy(w), gold=gold, reward_mode="lookahead"
    )
    r0 = [r for r in obj_first.collect() if r["step"] == 0][0]
    # depth-2 product: the alt-connector object mention matches gold, then
    # anchored subject extraction matches gold via the alt pattern (logit 1.2)
    assert r0["action"] == "object" and abs(r0["reward"] - 1.2) < 1e-9


def test_event_transitions_three_steps(spark):
    text = "Acme Corp hired Alice Stone in Denver."
    det = _detected(spark, [("u1", "hired", text, "en")])
    rows = rl_train.generate_transitions(det).collect()
    assert {r["step"] for r in rows} == {0, 1, 2}
    assert [r["done"] for r in sorted(rows, key=lambda r: r["step"])] == [False, False, True]


# ------------------------------------------------------------- E14 TD math

def _np_fitted_q(rows, w, wt, gamma):
    """Reference TD computation: target = r + gamma * mean_ns(max_c wt.phi)."""
    out = []
    for r in rows:
        q = sum(a * b for a, b in zip(r["feats"], w))
        if r["next_feats"]:
            nq = 0.0
            for choices in r["next_feats"]:
                nq += max((sum(a * b for a, b in zip(v, wt)) for v in choices), default=0.0)
            nq /= len(r["next_feats"])
        else:
            nq = 0.0
        tgt = r["reward"] + gamma * nq * (0.0 if r["done"] else 1.0)
        out.append((q, tgt))
    return out


def test_td_columns_match_reference_math(spark):
    det = _detected(spark, [("u1", "works_for", PRIM + " " + ALT, "en"),
                            ("u2", "founded", "Clara Okafor set up Juniper Labs.", "en")])
    trans = rl_train.generate_transitions(det)
    rows = trans.collect()
    w = [0.1 * (i % 5) for i in range(scorers.FEATURE_DIM)]
    wt = [0.05 * (i % 3) for i in range(scorers.FEATURE_DIM)]
    got = {
        (r["url"], r["rel"], r["step"], r["given"], r["action"]): (r["q_pred"], r["td_target"])
        for r in rl_train.td_columns(trans, w, wt, gamma=0.5).collect()
    }
    for r in rows:
        q, tgt = _np_fitted_q([r], w, wt, 0.5)[0]
        gq, gt = got[(r["url"], r["rel"], r["step"], r["given"], r["action"])]
        assert math.isclose(gq, q, abs_tol=1e-9)
        assert math.isclose(gt, tgt, abs_tol=1e-9)


def test_train_dqn_reduces_loss_and_is_deterministic(spark):
    det = _detected(spark, [(f"u{i}", "works_for", PRIM if i % 2 else ALT, "en")
                            for i in range(20)])
    trans = rl_train.generate_transitions(det)
    m1, h1 = rl_train.train_dqn(trans, n_iters=10, target_update=5, seed=1)
    m2, h2 = rl_train.train_dqn(trans, n_iters=10, target_update=5, seed=1)
    assert m1.w == m2.w and h1 == h2
    assert len(h1) == 10 and all(r["batch"] > 0 for r in h1)
    assert h1[-1]["loss"] < h1[0]["loss"]


# ------------------------------------------------------- learning outcome

def test_learned_policy_goes_object_first_on_alt_docs(spark):
    """The headline: trained on the lookahead reward, the linear Q opens
    alt-phrased works_for docs OBJECT-first (subject-first extracts nothing
    there) and the deployed policy recovers the alt facts the sequence
    baseline misses."""
    alt_docs = [
        (f"a{i}", "works_for",
         f"{S.PEOPLE[i % 48]} is at {S.ORGS[(i * 7) % 48]}.", "en")
        for i in range(12)
    ]
    prim_docs = [
        (f"p{i}", "works_for",
         f"{S.PEOPLE[(i * 5) % 48]} works for {S.ORGS[(i * 11) % 48]}.", "en")
        for i in range(12)
    ]
    det = _detected(spark, alt_docs + prim_docs)
    gold = spark.createDataFrame(
        [(u, rel, {"subject": t.split(" is at " if " is at " in t else " works for ")[0],
                   "object": t.split(" is at " if " is at " in t else " works for ")[1][:-1]})
         for u, rel, t, _ in alt_docs + prim_docs],
        "url string, rel string, slots map<string,string>",
    )
    model, hist = rl_train.fitted_q_train(
        det, n_generations=2, iters_per_gen=15, epsilon0=0.6,
        gold=gold, reward_mode="lookahead", seed=5, lr=0.1,
    )
    assert len(hist) == 30
    # the trained Q must rank object over subject when alt phrasing is
    # present, and recover EVERY alt fact through the deployed policy
    pol = model.policy()
    alt_text = alt_docs[0][2]
    assert scorers.choose_slot(alt_text, "works_for", "en", {}, ["subject", "object"], pol) == "object"
    from autoextraction_spark.operators import output, slot_fill
    completed = slot_fill.ordered_slot_fill(det, policy=pol)
    triples = output.to_triples(output.completed_filter(completed))
    got = {(r["url"], r["subj"], r["obj"]) for r in triples.collect()}
    for u, _rel, t, _ in alt_docs:
        subj, rest = t.split(" is at ")
        assert (u, subj, rest[:-1]) in got, f"alt fact lost on {u}"


def test_trained_policy_full_corpus_parity(spark, sf_dir):
    """Capstone: train on the REAL synthetic corpus (lookahead reward, gold
    from the corpus generator), deploy the learned weights through the fused
    inference pass, and match the hand-coded rl policy's P/R = 1.0 — beating
    the sequence baseline's 0.873 recall. The reference's end-to-end story
    (DQN.py train → predict.py decode) reproduced by actual training."""
    from pyspark.sql import functions as F

    from autoextraction_spark import corpus
    from autoextraction_spark import schema as KS
    from autoextraction_spark.operators import detect, output, slot_fill

    txt = corpus.web_pages(spark, sf_dir, with_text=True, emit_html=False)
    det = (
        detect.detect_relations(txt)
        .filter(F.col("rel").isin(KS.REL_NAMES))
        .localCheckpoint(eager=True)
    )
    gft = corpus.gold_fact_tuples(spark, sf_dir)
    slots = F.when(
        F.col("lang") == "zh",
        F.create_map(F.lit(KS.ZH_SLOTS[0]), F.col("subj"),
                     F.lit(KS.ZH_SLOTS[1]), F.col("obj")),
    ).otherwise(
        F.create_map(F.lit(KS.EN_SLOTS[0]), F.col("subj"),
                     F.lit(KS.EN_SLOTS[1]), F.col("obj"))
    )
    gold = gft.select("url", "rel", slots.alias("slots"))
    model, _ = rl_train.fitted_q_train(
        det, n_generations=3, iters_per_gen=15, epsilon0=0.6,
        gold=gold, reward_mode="lookahead", seed=11, lr=0.1,
    )
    completed = slot_fill.ordered_slot_fill(det, policy=model.policy())
    triples = output.to_triples(output.completed_filter(completed))
    gold_triples = corpus.gold_triples(spark, sf_dir).filter(
        F.col("pred").isin(KS.REL_NAMES)
    )
    m = output.metric_f1(
        triples, gold_triples, keys=["url", "pred", "subj", "obj"]
    ).collect()[0]
    assert m["precision"] == 1.0 and m["recall"] == 1.0, dict(m.asDict())


@pytest.mark.parametrize(
    "head",
    [rl_train.LinearQ.zeros(), neural.MLPQ.init(hidden=8, seed=3)],
    ids=["linear", "mlp"],
)
def test_fitted_q_train_checkpoint_resume(spark, tmp_path, head):
    """Training is resumable with the pipeline's manifest scheme, whatever
    the head: a rerun with the same config re-runs NOTHING (the model comes
    from manifests, the transition parquet is untouched); a config change
    invalidates the fingerprint chain and rebuilds."""
    import glob
    import os

    det = _detected(spark, [(f"u{i}", "works_for", PRIM if i % 2 else ALT, "en")
                            for i in range(10)])
    wd = str(tmp_path / "rlwd")
    kw = dict(n_generations=2, iters_per_gen=4, epsilon0=0.4, seed=3, workdir=wd)
    m1, h1 = rl_train.fitted_q_train(det, head, **kw)
    files = sorted(glob.glob(wd + "/stage=rl_transitions/gen=*/part-*"))
    assert files, "transition checkpoints missing"
    mt = {f: os.path.getmtime(f) for f in files}
    m2, h2 = rl_train.fitted_q_train(det, head, **kw)
    assert m1.to_json() == m2.to_json() and h1 == h2
    assert all(os.path.getmtime(f) == mt[f] for f in files)
    # config change -> fingerprint mismatch -> full rebuild of gen 0 onward
    m3, _ = rl_train.fitted_q_train(det, head, **{**kw, "iters_per_gen": 5})
    new_files = sorted(glob.glob(wd + "/stage=rl_transitions/gen=*/part-*"))
    assert {f: os.path.getmtime(f) for f in new_files} != mt
    assert m3.to_json() != m1.to_json()


def test_fitted_q_train_resume_retrains_on_code_change(spark, tmp_path, monkeypatch):
    # a workdir trained by one version of the package sources must NOT serve
    # stale weights and transitions to a resume under changed code
    import glob
    import os

    from autoextraction_spark import store

    det = _detected(spark, [(f"u{i}", "works_for", PRIM if i % 2 else ALT, "en")
                            for i in range(10)])
    wd = str(tmp_path / "rlwd_code")
    kw = dict(n_generations=1, iters_per_gen=2, epsilon0=0.4, seed=3, workdir=wd)
    rl_train.fitted_q_train(det, **kw)
    gen_dir = os.path.join(wd, "stage=rl_transitions", "gen=0")
    fp_before = store.manifest(gen_dir)["fingerprint"]
    files = sorted(glob.glob(wd + "/stage=rl_transitions/gen=0/part-*"))
    assert files, "transition checkpoints missing"
    mt = {f: os.path.getmtime(f) for f in files}
    monkeypatch.setattr(store, "source_digest", lambda: "changed-code")
    rl_train.fitted_q_train(det, **kw)
    assert store.manifest(gen_dir)["fingerprint"] != fp_before  # generation 0 retrained
    new_files = sorted(glob.glob(wd + "/stage=rl_transitions/gen=0/part-*"))
    assert {f: os.path.getmtime(f) for f in new_files} != mt


def test_fitted_q_train_killed_rebuild_is_not_served(spark, tmp_path, killed_manifest_write):
    # a generation rebuilt under another config is killed after its
    # transitions committed and before its manifest landed: a resume under
    # the first config must rebuild that generation's transitions, not keep
    # the other config's rows under its own fingerprint
    import os

    from autoextraction_spark import store

    det = _detected(spark, [(f"u{i}", "works_for", PRIM if i % 2 else ALT, "en")
                            for i in range(10)])
    wd = str(tmp_path / "rlwd_kill")
    gen_dir = os.path.join(wd, "stage=rl_transitions", "gen=0")
    kw = dict(n_generations=1, iters_per_gen=2, seed=3, workdir=wd)

    def transitions():
        return sorted(
            tuple(r) for r in spark.read.parquet(gen_dir).drop(*store.LINEAGE).collect()
        )

    m_a, h_a = rl_train.fitted_q_train(det, epsilon0=0.4, **kw)
    rows_a = transitions()
    with killed_manifest_write(gen_dir):
        rl_train.fitted_q_train(det, epsilon0=1.0, **kw)
    assert store.manifest(gen_dir) is None and transitions() != rows_a
    m_r, h_r = rl_train.fitted_q_train(det, epsilon0=0.4, **kw)
    assert transitions() == rows_a
    assert m_r.to_json() == m_a.to_json() and h_r == h_a


# ------------------------------------------- oracle closed-form coefficients

def test_oracle_affine_matches_featurize():
    """oracle._q_affine's (c0, cp, ca) must reproduce w·featurize exactly on
    texts with known connector counts — the closed form the DuckDB oracle
    uses to verify the iteration-1 TD pass and the learned-policy argmax."""
    from autoextraction_spark import oracle

    for w in (rl_train.PROBE_W, rl_train.PROBE_W_TARGET,
              rl_train.PROBE_POLICY_W):
        for rel, _st, _ot in S.RELATIONS:
            for lang in ("en", "zh"):
                conns = (S.ZH_TEMPLATES if lang == "zh" else S.EN_TEMPLATES)[rel]
                prim_c = next(c for c, p in conns if p)
                alt_c = next((c for c, p in conns if not p), None)
                for slot_idx in (0, 1):
                    for n in (0, 1):
                        c0, cp, ca = oracle._q_affine(w, rel, lang, slot_idx, n)
                        slot = (S.ZH_SLOTS if lang == "zh" else S.EN_SLOTS)[slot_idx]
                        assigned = {f"a{j}": "x" for j in range(n)}
                        # 2 primary + 1 alt rendered sentences
                        text = prim_c * 2 + (alt_c or "")
                        want = scorers.linear_q(w, text, rel, lang, assigned, slot)
                        got = c0 + cp * 0.5 + (ca * 0.25 if alt_c else 0.0)
                        assert got == want, (w is rl_train.PROBE_W, rel, lang, slot_idx, n)


def test_probe_td_values_are_exact_at_6dp(spark):
    """The PROBE weights' precision contract: every q_pred and every step-0
    td_target emitted by the oracled dqn_train query is an exact multiple of
    1/64 — round(x, 6) is the identity, so no cross-engine rounding."""
    det = _detected(spark, [("u1", "works_for", PRIM + " " + ALT, "en"),
                            ("u2", "works_for", ALT, "en")])
    tr = rl_train.generate_transitions(det)
    scored = rl_train.td_columns(tr, rl_train.PROBE_W, rl_train.PROBE_W_TARGET)
    for r in scored.select("step", "q_pred", "td_target").collect():
        assert (r["q_pred"] * 64) == round(r["q_pred"] * 64), r
        if r["step"] == 0:
            assert (r["td_target"] * 64) == round(r["td_target"] * 64), r


def test_linear_q_rejects_wrong_dim():
    """A stale weights artifact (wrong length after a FEATURE_DIM change)
    must fail loudly, not silently truncate the dot product."""
    import json

    import pytest

    with pytest.raises(ValueError):
        scorers.linear_q([0.0] * (scorers.FEATURE_DIM - 1), "t", "works_for",
                         "en", {}, "subject")
    with pytest.raises(ValueError):
        scorers.choose_slot("t", "works_for", "en", {}, ["subject", "object"],
                            "learned:" + json.dumps([0.0] * 3))


def test_probe_policy_flips_on_alt_presence():
    """PROBE_POLICY_W opens object-first exactly when the page carries an
    alt-rendered fact of the relation (margin −0.25 + 2·alt ± ≤0.125)."""
    pol = rl_train.learned_policy(rl_train.PROBE_POLICY_W)
    slots = ["subject", "object"]
    assert scorers.choose_slot(PRIM, "works_for", "en", {}, slots, pol) == "subject"
    assert scorers.choose_slot(ALT, "works_for", "en", {}, slots, pol) == "object"
    assert scorers.choose_slot(PRIM + ALT, "works_for", "en", {}, slots, pol) == "object"
    zh = ["头实体", "尾实体"]
    assert scorers.choose_slot("王伟任职于华信集团。", "works_for", "zh", {}, zh, pol) == "头实体"


ROOT = pathlib.Path(__file__).resolve().parents[1]


def _enclosing_def(parents, node):
    while node in parents:
        node = parents[node]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return node.name
    return None


def test_sgd_step_only_in_train_dqn():
    """One sample-and-step loop: a Q head's ``grad_step`` is called only by
    ``rl_train.train_dqn``, so no second trainer grows beside it."""
    paths = [
        *sorted((ROOT / "autoextraction_spark").rglob("*.py")),
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "scripts").rglob("*.py")),
    ]
    offenders = []
    for path in paths:
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "grad_step"
                and (path.name, _enclosing_def(parents, node))
                != ("rl_train.py", "train_dqn")
            ):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []
