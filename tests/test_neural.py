"""Neural-scorer swap proof (neural.py): the featurize / batch_step /
policy-string seams carry a NON-LINEAR model end-to-end — trained through
rl_train's fitted-Q loop, deployed through the same fused inference pass, and
reaching the reference policy's extraction quality (VERDICT r3 item 3).
"""

from __future__ import annotations

import numpy as np
import pytest

from autoextraction_spark import neural, scorers
from autoextraction_spark import schema as KS

PRIM = "Alice Stone works for Acme Corp."
ALT = "Brian Rivera is at Helios Labs."


def test_mlp_grad_step_reduces_loss():
    """Pure-model sanity: SGD on fixed (features, target) pairs drives the
    MSE down — the backprop math is right."""
    rng = np.random.default_rng(3)
    model = neural.MLPQ.init(hidden=8, seed=1)
    phi = rng.normal(size=(64, scorers.FEATURE_DIM))
    tgt = np.tanh(phi[:, 0] * 2.0) + 0.3 * phi[:, 4]
    losses = []
    for _ in range(200):
        err = model.forward(phi) - tgt
        losses.append(model.grad_step(phi, err, lr=0.05))
    assert losses[-1] < 0.1 * losses[0]


def test_mlp_json_roundtrip_and_dim_guard():
    model = neural.MLPQ.init(hidden=4, seed=2)
    clone = neural.MLPQ.from_json(model.to_json())
    phi = np.ones((3, scorers.FEATURE_DIM))
    assert np.allclose(model.forward(phi), clone.forward(phi))
    import json

    bad = json.loads(model.to_json())
    bad["w1"] = [row[:-1] for row in bad["w1"]]  # wrong feature dim
    with pytest.raises(ValueError):
        neural.MLPQ.from_json(json.dumps(bad))


def test_batch_step_mlp_matches_per_state_choose_slot():
    """Contract: the wave-batched forward must agree with per-state scoring
    — output[i] == step_state(*states[i]) under the same mlp policy."""
    pol = neural.MLPQ.init(hidden=8, seed=5).policy()
    slots = ["subject", "object"]
    states = [
        (PRIM, "works_for", "en", {}, list(slots)),
        (ALT, "works_for", "en", {}, list(slots)),
        (PRIM + " " + ALT, "works_for", "en", {"subject": "Alice Stone"}, ["object"]),
        ("王伟任职于华信集团。", "works_for", "zh", {}, ["头实体", "尾实体"]),
    ]
    batched = scorers.batch_step(states, pol)
    for st, got in zip(states, batched):
        assert got == scorers.step_state(*st, pol)


def test_fused_equals_rounds_with_mlp(spark, norm_states, reference_states):
    """The fused single-Arrow-pass engine must equal the reference's
    round-by-round ``Environment.step`` recursion under a non-linear policy
    (the round-2 invariant, re-proven for the swap seam)."""
    from autoextraction_spark.operators import slot_fill

    det = spark.createDataFrame(
        [(f"u{i}", "works_for", PRIM if i % 2 else ALT, "en") for i in range(8)]
        + [("uz", "works_for", "王伟任职于华信集团。", "zh")],
        "url string, rel string, text string, lang string",
    )
    pol = neural.MLPQ.init(hidden=8, seed=9).policy()
    fused = slot_fill.ordered_slot_fill(det, policy=pol)
    assert norm_states(fused) == reference_states(det, pol)


def test_mlp_policy_full_corpus_parity(spark, sf_dir):
    """Capstone for the swap seam: train the MLP Q-head from scratch on the
    real synthetic corpus (lookahead reward), deploy via ``mlp:`` through
    the fused pass, and reach P/R ≥ 0.95 — the north-rule bar — matching
    the linear capstone (which reaches 1.0)."""
    from pyspark.sql import functions as F

    from autoextraction_spark import corpus
    from autoextraction_spark.operators import detect, output, rl_train, slot_fill

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
    model, hist = rl_train.fitted_q_train(
        det, neural.MLPQ.init(hidden=16, seed=7), n_generations=3,
        iters_per_gen=15, epsilon0=0.6, gold=gold, reward_mode="lookahead",
        seed=7, lr=0.1, target_update=5,
    )
    assert hist, "training produced no iterations"
    completed = slot_fill.ordered_slot_fill(det, policy=model.policy())
    triples = output.to_triples(output.completed_filter(completed))
    gold_triples = corpus.gold_triples(spark, sf_dir).filter(
        F.col("pred").isin(KS.REL_NAMES)
    )
    m = output.metric_f1(
        triples, gold_triples, keys=["url", "pred", "subj", "obj"]
    ).collect()[0]
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, dict(m.asDict())
