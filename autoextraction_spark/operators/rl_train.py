"""E13/E14 — distributed DQN training for the slot-ordering policy.

Reference semantics (SURVEY.md §2.3, the last two operators):

- E13 experience collection: ``DQN.py:125-160`` — ε-greedy episode rollouts
  over the corpus; every processed (state, action) stores a transition
  ``(state, action, reward, next_state_list, done)`` into a replay memory
  (``RL_utils/dqn.py:126-127``).
- E14 DQN optimizer: ``RL_utils/dqn.py:95-164`` — prioritized minibatch
  sampling (``RL_utils/replay_buffer.py`` SumTree, importance ratio
  :90-93), TD target ``r + γ · mean_next(max_choice Q_target) · (1-done)``
  (``dqn.py:151-152``; ``chunk_sum`` is a per-transition MEAN over its next
  states, each next state scored as the MAX over its remaining choices,
  empty choices → 0, ``dqn.py:71-73,129-137``), unweighted MSE loss +
  SGD step (``dqn.py:154-160`` — the reference computes importance ratios
  but does not fold them into the loss; we reproduce that exactly), target
  network synced every ``target_update`` episodes (``DQN.py:152-153``),
  ε decayed ×0.95 per ``explore_update`` steps (``dqn.py:143``).

Spark-first reframing (NOT a port — no SumTree, no parameter server):

- **The replay buffer IS a DataFrame.** Experience generation is the
  data-parallel part: ONE Arrow-vectorized ``mapInPandas`` pass over the
  detection gate runs every episode to completion (same breadth-first fork
  machinery as the inference path) and emits a typed transitions table with
  the state-action feature vector AND every (next-state, choice) feature
  vector precomputed — so training never touches text again.
- **Two Q heads, one loop.** A head is any object with ``copy``,
  ``policy``, ``td_errors``, ``grad_step``, ``to_json`` and ``from_json``:
  ``LinearQ`` here (linear over the hashed ``scorers.featurize`` features)
  and ``neural.MLPQ`` (a tanh MLP over the same features). The head
  supplies only its TD pass and its driver-side SGD step; the rollout
  (``generate_transitions``, exploiting through ``scorers.choose_slot``
  under ``head.policy()``), the race sampler and target sync
  (``train_dqn``) and the resumable generations (``fitted_q_train``) are
  written once. The heads differ in which side of the Python boundary the
  TD pass runs on: the linear head's weights enter the plan as literal
  arrays (D ≈ 20 doubles — cheaper than a broadcast var) and its TD
  target/error for EVERY buffered transition is pure-codegen array math
  (``zip_with`` dot products, ``array_max``, ``aggregate``); the MLP's is
  one batched-forward ``mapInPandas`` pass. Either way the γ-discounted
  target uses the target head — "the weights from the last sync", which is
  precisely what a periodically-synced target net is.
- **Prioritized replay = exponential-race weighted sampling.** Sampling
  ∝ priority without replacement at any scale: key_i = -ln(u_i)/w_i with a
  deterministic per-(row, iteration) hash u_i, take the B smallest
  (sort-limit — no tree state, no driver structure). Priorities are
  recomputed for ALL rows each iteration from the current weights — a
  strictly fresher prioritization than the SumTree's update-only-sampled
  scheme, noted as the one intentional upgrade.
- The B-row minibatch (B = 32, the reference batch size) is collected to
  the driver for the gradient step — that is model fitting on a minibatch
  (the reference moves the same rows to the GPU), not a data collect; the
  full-buffer TD scan stays distributed.

At 100 TB: generation is one narrow map over the gated corpus (text crosses
Arrow once, transitions are small numeric rows); the buffer persists
DISK_ONLY; each training iteration is one sort-limit job over cached
numerics. A 10^12-document corpus trains on a sampled buffer — sample
``detected`` before passing it to ``fitted_q_train``.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.storagelevel import StorageLevel

from .. import scorers, store
from .slot_fill import initial_remaining

TRANSITION_SCHEMA = (
    "url string, rel string, lang string, step int, given string, "
    "action string, reward double, done boolean, n_next int, "
    "feats array<double>, next_feats array<array<array<double>>>"
)

GAMMA = 0.5           # DQN.py:122
BATCH_SZ = 32         # DQN.py:122 batch_sz
TARGET_UPDATE = 20    # DQN.py:36 target_update
PRIORITY_EPS = 1e-3   # keeps the race key finite for zero-TD rows

# Fixed probe weights for the ORACLED fitted-Q iteration-1 check
# (`__spark_entry__.q_dqn_train` / `oracle.dqn_td_sql`): with weights fixed,
# one TD pass (`td_columns`) is a closed-form expression over the transition
# table — q_pred = w·φ(s,a), target = r + γ·mean_next(max_choice w_t·φ)·(1-done)
# (ref RL_utils/dqn.py:126-152) — which a DuckDB oracle recomputes exactly.
# Precision contract: PROBE_W entries are multiples of 1/16 and
# PROBE_W_TARGET entries multiples of 1/8; featurize components are multiples
# of 1/4, so every dot product and the γ=1/2-discounted target is an exact
# multiple of 1/64 — exactly 6 decimal digits, no cross-engine rounding
# ambiguity at round(…, 6).
PROBE_W = [0.25, 0.5, -0.25, 0.125, 0.75, -0.5, 0.1875, -0.125, 0.3125,
           -0.25, 0.0625, -0.0625, 0.125, -0.1875, 0.25, -0.3125, 0.375,
           -0.4375]
PROBE_W_TARGET = [0.5, -0.25, 0.125, 0.375, -0.625, 0.25, -0.125, 0.5,
                  -0.375, 0.125, 0.25, -0.25, 0.375, -0.125, 0.625, -0.5,
                  0.125, -0.375]
# Fixed deployment weights for the ORACLED learned-policy check
# (`q_rl_learned_policy` / `oracle.learned_policy_sql`): the opening-action
# margin is q(slot1) − q(slot0) = −0.25 + 2·alt + Δonehot with |Δonehot| ≤
# 0.125, so the policy goes object-first exactly when the page contains ≥1
# alt-rendered fact of the relation (alt ≥ 0.25) — the paper's
# order-sensitivity signal (data_filter.py:174-207) — and no state ties.
PROBE_POLICY_W = [0.0, 0.25, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0, 2.0,
                  0.03125, -0.03125, 0.046875, -0.046875, 0.015625,
                  -0.015625, 0.0625, -0.0625]


def _hash_u(*parts: object) -> float:
    """Deterministic uniform in [0, 1) from a crc32 of the parts (python's
    ``hash()`` is salted per worker — same reason as scorers.choose_slot)."""
    key = "\x1f".join(str(p) for p in parts).encode("utf-8")
    return zlib.crc32(key) / 2**32


def _egreedy(
    text: str,
    rel: str,
    lang: str,
    assigned: dict[str, str],
    remaining: list[str],
    policy: str,
    epsilon: float,
    seed: int,
    url: str,
    step: int,
) -> str:
    """ε-greedy action over the Q function — ``dqn.py:43-48`` with the
    random draws made reproducible (hash of the full state identity + seed).
    Exploitation goes through ``scorers.choose_slot`` under ``policy``, so a
    head trains on-policy through the same door it deploys through."""
    if epsilon > 0.0 and _hash_u("explore", seed, url, rel, step, *sorted(assigned.items())) < epsilon:
        pick = _hash_u("pick", seed, url, rel, step, *sorted(assigned.items()))
        return remaining[int(pick * len(remaining)) % len(remaining)]
    return scorers.choose_slot(text, rel, lang, assigned, remaining, policy)


def _episode_transitions(
    url: str,
    rel: str,
    text: str,
    lang: str,
    policy: str,
    epsilon: float,
    seed: int,
    gold: list[dict[str, str]] | None,
    reward_mode: str,
    max_steps: int,
) -> list[tuple]:
    """Run ONE ε-greedy episode (all forks) and return its transition rows.

    Mirrors the DQN.py:130-147 loop: every live state at every depth yields
    exactly one stored transition; candidate mentions fork the state
    (Environment.py:186-224)."""
    out: list[tuple] = []
    wave: list[tuple[dict, list[str], int]] = [({}, initial_remaining(rel, lang), 0)]
    while wave:
        nxt: list[tuple[dict, list[str], int]] = []
        for assigned, remaining, step in wave:
            if not remaining or step >= max_steps:
                continue
            action = _egreedy(
                text, rel, lang, assigned, remaining, policy, epsilon, seed,
                url, step,
            )
            cands = scorers.extract_candidates(text, rel, lang, assigned, action)
            if reward_mode == "lookahead" and gold is not None:
                reward, _ = scorers.choice_reward(
                    text, rel, lang, assigned, remaining, action, gold
                )
            else:  # 'step': mean per-mention max logit, Environment.py:197
                reward = sum(c[2] for c in cands) / len(cands)
            rem2 = [r for r in remaining if r != action]
            done = not rem2
            feats = scorers.featurize(text, rel, lang, assigned, action)
            next_feats: list[list[list[float]]] = []
            for mention, _p, _mx in cands:
                forked = dict(assigned)
                forked[action] = mention
                next_feats.append(
                    [
                        scorers.featurize(text, rel, lang, forked, c)
                        for c in rem2
                    ]
                )
                nxt.append((forked, rem2, step + 1))
            # ``given`` identifies the state within (url, rel, step): the
            # value assigned by the previous action ('' for the root)
            given = "" if not assigned else assigned[next(iter(assigned))] if len(assigned) == 1 else json.dumps(
                dict(sorted(assigned.items())), ensure_ascii=False, sort_keys=True
            )
            out.append(
                (url, rel, lang, step, given, action, float(reward), done,
                 len(cands), feats, next_feats)
            )
        wave = nxt
    return out


def generate_transitions(
    detected: DataFrame,
    policy: str = "sequence",
    epsilon: float = 0.0,
    seed: int = 0,
    gold: DataFrame | None = None,
    reward_mode: str = "step",
    max_steps: int = 20,
) -> DataFrame:
    """E13: one Arrow pass (detection gate → transitions table).

    ``detected``: (url, rel, text, lang, ...) from ``detect_relations``.
    ``policy``: the deployable policy string the exploitation branch follows
    (``head.policy()`` while training; ``sequence`` is what an untrained
    zero-weight head picks, first-max on all-equal Q).
    ``gold``: optional (url, rel, slots map<string,string>) tuples for the
    two-step-lookahead shaped reward (``reward_mode='lookahead'``, E7);
    joined once before the pass — gold rows are tiny next to text.
    """
    cols = ["url", "rel", "text", "lang"]
    if gold is not None and reward_mode == "lookahead":
        gold_sets = gold.groupBy("url", "rel").agg(
            F.collect_list("slots").alias("gold_slots")
        )
        detected = detected.select(*cols).join(gold_sets, ["url", "rel"], "left")
        cols = cols + ["gold_slots"]
    else:
        detected = detected.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            has_gold = "gold_slots" in pdf.columns
            for tup in pdf.itertuples(index=False):
                g = None
                if has_gold and tup.gold_slots is not None:
                    g = [dict(m) for m in tup.gold_slots]
                rows.extend(
                    _episode_transitions(
                        tup.url, tup.rel, tup.text, tup.lang, policy, epsilon,
                        seed, g, reward_mode, max_steps,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["url", "rel", "lang", "step", "given", "action",
                         "reward", "done", "n_next", "feats", "next_feats"],
            )

    return detected.mapInPandas(run, schema=TRANSITION_SCHEMA)


# ------------------------------------------------------------------ training

def _lit_array(values: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


def _dot(col: Column, w: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(col, _lit_array(w), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def td_columns(
    transitions: DataFrame, weights: list[float], target_weights: list[float], gamma: float = GAMMA
) -> DataFrame:
    """Distributed TD pass — pure codegen, no Python.

    q_pred   = w · φ(s, a)
    next_q   = mean over next states of max over choices of w_target · φ
               (empty-choice next state → 0, ``dqn.py:71-73``; the mean is
               ``chunk_sum``, ``dqn.py:129-137,152``)
    target   = r + γ · next_q · (1 - done)
    """
    per_next = F.transform(
        F.col("next_feats"),
        lambda choices: F.coalesce(
            F.array_max(F.transform(choices, lambda v: _dot(v, target_weights))),
            F.lit(0.0),
        ),
    )
    next_q = F.when(F.size("next_feats") == 0, F.lit(0.0)).otherwise(
        F.aggregate(per_next, F.lit(0.0), lambda acc, x: acc + x)
        / F.size("next_feats")
    )
    target = F.col("reward") + F.lit(gamma) * next_q * F.when(
        F.col("done"), F.lit(0.0)
    ).otherwise(F.lit(1.0))
    q_pred = _dot(F.col("feats"), weights)
    return transitions.withColumn("q_pred", q_pred).withColumn("td_target", target)


class LinearQ:
    """q(s, a) = w · φ(s, a): the linear head. Its TD pass is codegen
    (``td_columns``); its SGD step is a driver loop over the B-row
    minibatch."""

    def __init__(self, w: list[float]):
        self.w = list(w)

    @classmethod
    def zeros(cls) -> "LinearQ":
        return cls([0.0] * scorers.FEATURE_DIM)

    def copy(self) -> "LinearQ":
        return LinearQ(self.w)

    def policy(self) -> str:
        return learned_policy(self.w)

    def td_errors(self, buf: DataFrame, target: "LinearQ", gamma: float) -> DataFrame:
        scored = td_columns(buf, self.w, target.w, gamma)
        return scored.withColumn("err", F.col("q_pred") - F.col("td_target"))

    def grad_step(self, feats: list[list[float]], errs: list[float], lr: float) -> float:
        """One SGD step on unweighted MSE (``dqn.py:154-160``); returns the
        batch loss."""
        n = len(errs)
        grad = [0.0] * len(self.w)
        loss = 0.0
        for e, f in zip(errs, feats):
            loss += e * e
            for j, fj in enumerate(f):
                grad[j] += 2.0 * e * fj
        self.w = [wj - lr * gj / n for wj, gj in zip(self.w, grad)]
        return loss / n

    def to_json(self) -> str:
        return json.dumps(self.w)

    @classmethod
    def from_json(cls, blob: str) -> "LinearQ":
        return cls(json.loads(blob))


def train_dqn(
    transitions: DataFrame,
    model=None,
    n_iters: int = 50,
    lr: float = 0.05,
    gamma: float = GAMMA,
    batch_size: int = BATCH_SZ,
    target_update: int = TARGET_UPDATE,
    seed: int = 0,
):
    """E14: fitted-Q iterations over the buffered transitions, for any head
    (``model``; None is a zero ``LinearQ``; the caller's head is not
    modified).

    Per iteration: ONE distributed job — the head's TD errors for every
    buffered row against (current, target) heads, prioritized minibatch
    selection via the exponential race (key = -ln(u)/|td|, deterministic u
    per (row, iteration)), sort-limit B — then the head's SGD step on the
    driver (unweighted MSE, ``dqn.py:154-160``). The target head syncs every
    ``target_update`` iterations (``DQN.py:152-153``).

    Returns (model, history) where history has one row per iteration:
    {iter, loss, mean_abs_td, batch}.
    """
    model = (model or LinearQ.zeros()).copy()
    target = model.copy()
    buf = transitions.select("url", "rel", "step", "given", "action",
                             "reward", "done", "feats", "next_feats")
    buf = buf.persist(StorageLevel.DISK_ONLY)
    history: list[dict] = []
    for it in range(n_iters):
        scored = model.td_errors(buf, target, gamma)
        priority = F.abs(F.col("err")) + F.lit(PRIORITY_EPS)
        # deterministic uniform per (row identity, iteration)
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f",
                            F.lit(str(seed)), F.lit(str(it)),
                            "url", "rel", F.col("step").cast("string"),
                            "given", "action",
                        )
                    ),
                    1, 13,
                ),
                16, 10,
            ).cast("double")
            / F.lit(float(16**13))
        )
        race = -F.log(u + F.lit(1e-12)) / priority
        batch = (
            scored.select(race.alias("race"), "err", "feats")
            .orderBy("race")
            .limit(batch_size)
            .collect()
        )
        if not batch:
            break
        n = len(batch)
        errs = [float(row["err"]) for row in batch]
        loss = model.grad_step([row["feats"] for row in batch], errs, lr)
        history.append(
            {"iter": it, "loss": loss,
             "mean_abs_td": sum(abs(e) for e in errs) / n, "batch": n}
        )
        if (it + 1) % target_update == 0:
            target = model.copy()
    buf.unpersist()
    return model, history


def fitted_q_train(
    detected: DataFrame,
    model=None,
    n_generations: int = 3,
    iters_per_gen: int = 20,
    epsilon0: float = 0.9,
    epsilon_decay: float = 0.95,
    gold: DataFrame | None = None,
    reward_mode: str = "step",
    seed: int = 0,
    workdir: str | None = None,
    resume: bool = True,
    **train_kw,
):
    """Outer loop: regenerate experience under the improved head's policy
    with decayed ε (the on-policy dimension of DQN.py:125-160; ε ×
    ``epsilon_decay`` per generation ≡ ``explore_update``, dqn.py:143),
    then run ``iters_per_gen`` fitted-Q iterations. ``model`` is the
    initial head (None is a zero ``LinearQ``). Returns (model, history).

    ``workdir`` makes training RESUMABLE with the extraction pipeline's
    checkpoint (``store.stage``; the reference checkpoints weights every
    ``iters_save`` episodes, DQN.py:155-156): per generation, the rollout's
    transitions land under ``workdir/stage=rl_transitions/gen=<g>`` with
    per-partition lineage, and the trained head (``to_json``) + loss history
    are added to that dir's one manifest, whose FINGERPRINT chains through
    all prior generations from the initial head's JSON — a killed job
    re-runs only unfinished generations (re-training from landed
    transitions when only the head is missing), and any config change
    (initial head, seed, ε schedule, reward mode, optimizer knobs)
    invalidates everything downstream instead of silently resuming stale
    state."""
    model = model or LinearQ.zeros()
    history: list[dict] = []
    eps = epsilon0
    fp = model.to_json()
    for g in range(n_generations):
        fp = store.fingerprint(
            g, seed, f"{eps:.6f}", iters_per_gen, reward_mode, sorted(train_kw.items()), fp
        )

        def rollout():
            return generate_transitions(
                detected, model.policy(), epsilon=eps, seed=seed + g, gold=gold,
                reward_mode=reward_mode,
            )

        if workdir:
            gen_dir = os.path.join(workdir, f"stage=rl_transitions/gen={g}")
            m = store.manifest(gen_dir) if resume else None
            if m and m.get("fingerprint") == fp and "model" in m:
                model = model.from_json(m["model"])
                history.extend(m["history"])
                eps *= epsilon_decay
                continue
            trans = store.stage(gen_dir, fp, rollout, resume=resume)
        else:
            trans = rollout()
        model, h = train_dqn(trans, model, n_iters=iters_per_gen, seed=seed + g,
                             **train_kw)
        for row in h:
            row["generation"] = g
            row["epsilon"] = eps
        history.extend(h)
        if workdir:
            store.record(gen_dir, model=model.to_json(), history=h)
        eps *= epsilon_decay
    return model, history


def learned_policy(weights: list[float]) -> str:
    """Policy string for ``ordered_slot_fill``/``scorers.choose_slot`` that
    ranks slots by the trained linear Q — deployment is the SAME fused
    inference pass, just a different policy argument."""
    return "learned:" + json.dumps([float(x) for x in weights])


def first_actions(detected: DataFrame, weights: list[float]) -> DataFrame:
    """Per (rel, action): how often the trained policy opens the episode
    with each slot — the order-preference summary used for evaluation."""
    policy = learned_policy(weights)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acts = [
                scorers.choose_slot(
                    text, rel, lang, {}, initial_remaining(rel, lang), policy
                )
                for text, rel, lang in zip(pdf["text"], pdf["rel"], pdf["lang"])
            ]
            out = pdf[["rel"]].copy()
            out["action"] = acts
            yield out

    return (
        detected.select("url", "rel", "text", "lang")
        .mapInPandas(run, schema="rel string, action string")
        .groupBy("rel", "action")
        .agg(F.count("*").alias("n"))
    )
