"""Deterministic span scorer + slot-ordering policy (pure functions).

These replace the reference's neural components with deterministic pure
functions of (text, cond, choice) — the sandbox has no GPU/weights, and the
north_rule grades *pipeline semantics*, which are preserved exactly:

- span scorer  = GlobalPointer head (reference model.py:178-222) →
  anchored-pattern matcher emitting (mention, raw_logit) pairs.
- ``score2prob`` mention aggregation reproduces Environment.py:90-99 to the
  letter: softmax over raw logits, prob = Σ softmax per mention,
  score = max logit per mention.
- null fallback ('[None]', 0.9, 3) reproduces Environment.py:118-119.
- Q policy = DQN value net (RL_utils/dqn.py:43-69) → deterministic value
  estimate per not-yet-filled slot; ``argmax(Q1+Q2)`` two-agent ensemble
  (predict.py:90-92) with torch.argmax's first-max tie-break.

Purity matters for scale: a scorer that is a pure function of the row is
partition-order independent, so results are stable under any repartitioning
(SURVEY.md §7 hard-part (c)).
"""

from __future__ import annotations

import json
import math
import re
import zlib
from functools import lru_cache

from . import schema as S

EN_ENT = r"(?:[A-Z][A-Za-z]+)(?: [A-Z][A-Za-z]+)*"
ZH_ENT = r"[一-鿿]+"

PRIMARY_LOGIT = 2.5
ALT_LOGIT = 1.2
NONE_CAND = (S.NONE_SENTINEL, 0.9, 3.0)


def slot_names(lang: str) -> list[str]:
    return S.ZH_SLOTS if lang == "zh" else S.EN_SLOTS


def _connectors(rel: str, lang: str) -> list[tuple[str, bool]]:
    return (S.ZH_TEMPLATES if lang == "zh" else S.EN_TEMPLATES)[rel]


@lru_cache(maxsize=512)
def _pattern(rel: str, lang: str, conn: str, fixed_subj: str | None, fixed_obj: str | None):
    ent = ZH_ENT if lang == "zh" else EN_ENT
    subj = re.escape(fixed_subj) if fixed_subj else f"({ent})"
    obj = re.escape(fixed_obj) if fixed_obj else f"({ent})"
    tail = "。" if lang == "zh" else r"(?![A-Za-z])"
    return re.compile(f"{subj}{re.escape(conn)}{obj}{tail}")


@lru_cache(maxsize=8)
def _ent_suffix(lang: str):
    """``({ENT}){tail}`` — the part of a fixed-subject pattern AFTER the
    literal prefix. Keyed on lang only, so it compiles twice per process."""
    ent = ZH_ENT if lang == "zh" else EN_ENT
    tail = "。" if lang == "zh" else r"(?![A-Za-z])"
    return re.compile(f"({ent}){tail}")


def _objs_after_literal(text: str, prefix: str, lang: str) -> list[str]:
    """Exactly ``[m.group(1) for m in re.finditer(re.escape(prefix) +
    ({ENT}){tail}, text)]`` — without compiling a per-mention pattern.

    Valid ONLY because the variable part is a literal PREFIX: a full-pattern
    match can start nowhere but at a literal occurrence, so scanning literal
    occurrences left-to-right with ``str.find`` and anchoring the cached
    suffix regex at each (resuming at ``m.end()`` on success, ``i + 1`` on
    failure) visits exactly the positions ``finditer`` would try, in the
    same order, with the same non-overlap rule. Extracted mentions are
    unique per document, so the per-mention compiled patterns this replaces
    missed every lru cache at corpus scale — measured ~18% of single-core
    episode time (r5, a cProfile of one worker's fused episode pass). The
    mirrored fixed-OBJECT case keeps the compiled pattern: its literal is a
    suffix, and emulating leftmost-start/greedy semantics for a
    variable-length entity prefix is not provably equivalent.
    """
    pat = _ent_suffix(lang)
    out: list[str] = []
    pos, n = 0, len(prefix)
    while True:
        i = text.find(prefix, pos)
        if i < 0:
            return out
        m = pat.match(text, i + n)
        if m:
            out.append(m.group(1))
            pos = m.end()
        else:
            pos = i + 1


def _matches(
    text: str, rel: str, lang: str, want_slot_idx: int, fixed: str | None, primary_only: bool
) -> list[tuple[str, float]]:
    """All (mention, logit) for extracting subj (idx 0) / obj (idx 1)."""
    out: list[tuple[str, float]] = []
    for conn, is_primary in _connectors(rel, lang):
        if primary_only and not is_primary:
            continue
        if conn not in text:
            # the connector is a literal segment of every pattern variant —
            # absent connector ⟹ no match; the C-level substring probe is
            # far cheaper than the regex scan it skips (alt connectors are
            # absent from most gated pages)
            continue
        logit = PRIMARY_LOGIT if is_primary else ALT_LOGIT
        if want_slot_idx == 1 and fixed is not None:
            # fixed subject: literal-prefix fast path, no per-mention compile
            for obj in _objs_after_literal(text, fixed + conn, lang):
                out.append((obj, logit))
            continue
        if want_slot_idx == 0:
            pat = _pattern(rel, lang, conn, None, fixed)
            group_idx = 1
        else:
            pat = _pattern(rel, lang, conn, fixed, None)
            # subject unfixed -> it is group 1, the object we want is group 2
            group_idx = 2
        for m in pat.finditer(text):
            out.append((m.group(group_idx), logit))
    return out


@lru_cache(maxsize=2048)
def _event_pattern(etype: str, assigned_key: tuple, want_role: str):
    """Regex for extracting ``want_role`` of event ``etype`` given assigned
    roles substituted as literals. Returns (pattern, group_index). The
    entity class follows the event's language (zh events use the CJK run)."""
    ev = S.EVENTS[etype]
    ent = ZH_ENT if ev["lang"] == "zh" else EN_ENT
    assigned = dict(assigned_key)
    segs = [re.escape(ev["parts"][0])]
    group_idx, seen_groups = 0, 0
    for role, part in zip(ev["roles"], ev["parts"][1:]):
        if role in assigned:
            segs.append(re.escape(assigned[role]))
        else:
            seen_groups += 1
            if role == want_role:
                group_idx = seen_groups
            segs.append(f"({ent})")
        segs.append(re.escape(part))
    return re.compile("".join(segs)), group_idx


def event_candidates(
    text: str, etype: str, assigned: dict[str, str], role: str
) -> list[tuple[str, float]]:
    """Multi-slot event extraction (DuEE semantics, dataset/duee.py:38-64):
    the event template with assigned roles fixed anchors the wanted role."""
    if S.NONE_SENTINEL in assigned.values():
        return []
    key = tuple(sorted(assigned.items()))
    pat, gi = _event_pattern(etype, key, role)
    return [(m.group(gi), PRIMARY_LOGIT) for m in pat.finditer(text)]


def raw_candidates(
    text: str, rel: str, lang: str, assigned: dict[str, str], slot: str
) -> list[tuple[str, float]]:
    """(mention, raw logit) list for extracting ``slot`` given partial state.

    Asymmetry that plants order-sensitivity (data_filter.py semantics):
    unconstrained-SUBJECT extraction only fires on primary connectors, while
    every other mode (object-first, or either slot with the other fixed) sees
    primary + alt — so alt-phrased facts are only recovered object-first.
    """
    if rel in S.EVENTS:
        return event_candidates(text, rel, assigned, slot)
    names = slot_names(lang)
    idx = names.index(slot)
    other = assigned.get(names[1 - idx])
    if other == S.NONE_SENTINEL:
        return []  # the fork already failed; nothing anchors
    if other is None:
        return _matches(text, rel, lang, idx, None, primary_only=(idx == 0))
    return _matches(text, rel, lang, idx, other, primary_only=False)


def score2prob(entities: list[tuple[str, float]]) -> list[tuple[str, float, float]]:
    """Exact Environment.py:90-99 semantics; output sorted (-score, mention)."""
    if not entities:
        return []
    if len(entities) == 1:
        # exact fast path: p = exp(s)/exp(s) = 1.0 bit-exactly in IEEE 754
        m, s = entities[0]
        return [(m, 1.0, s)]
    # exp each logit once and reuse (same floats, same summation order as
    # computing it twice — math.exp is deterministic per input)
    exps = [math.exp(s) for _, s in entities]
    logsum = sum(exps)
    by_mention: dict[str, tuple[float, float]] = {}
    for (mention, s), e in zip(entities, exps):
        p, mx = by_mention.get(mention, (0.0, float("-inf")))
        by_mention[mention] = (p + e / logsum, max(mx, s))
    out = [(m, p, mx) for m, (p, mx) in by_mention.items()]
    out.sort(key=lambda e: (-e[2], e[0]))
    return out


def extract_candidates(
    text: str, rel: str, lang: str, assigned: dict[str, str], slot: str
) -> list[tuple[str, float, float]]:
    cands = score2prob(raw_candidates(text, rel, lang, assigned, slot))
    return cands if cands else [NONE_CAND]


def q_value(text: str, rel: str, lang: str, assigned: dict[str, str], slot: str) -> float:
    """Deterministic stand-in for the DQN Q(slot | cond, text) value."""
    return float(len(raw_candidates(text, rel, lang, assigned, slot)))


FEATURE_DIM = 18  # 10 base + 8 hashed (rel, slot, progress) buckets


def featurize(
    text: str, rel: str, lang: str, assigned: dict[str, str], slot: str
) -> list[float]:
    """φ(state, action) for the trainable linear Q (E14, rl_train.py).

    Stands in for the reference's BERT state-action encoder
    (RL_utils/dqn.py:43-69 tokenizes ``choice + ' ' + cond`` against the
    text); this is the documented swap seam — a neural encoder replaces this
    function and nothing else. Features are cheap pure-python (substring
    counts, position flags) so experience generation stays one narrow map:

    - position flags of the slot in its schema (first / last),
    - progress (how many slots already assigned),
    - primary- / alt-connector occurrence counts in the text (clipped),
    - their interactions with the position flags (a linear model needs the
      explicit product to learn "go object-first when alt phrasing is
      present" — the paper's order-sensitivity signal),
    - a hashed (rel, slot, n_assigned) one-hot: keying the bucket on episode
      progress keeps depth-0 openings (where ordering is chosen) from
      aliasing with deeper forced/near-forced picks of the same slot —
      without it, the many zero-reward final-step transitions drag down the
      Q of the same slot AS AN OPENING and the ordering signal washes out.
    """
    names = (
        list(S.EVENTS[rel]["roles"]) if rel in S.EVENTS else slot_names(lang)
    )
    idx = names.index(slot)
    is_first = 1.0 if idx == 0 else 0.0
    is_last = 1.0 if idx == len(names) - 1 else 0.0
    if rel in S.EVENTS:
        prim = float(text.count(S.EVENTS[rel]["anchor"]))
        alt = 0.0
    else:
        conns = _connectors(rel, lang)
        prim = float(sum(text.count(c) for c, p in conns if p))
        alt = float(sum(text.count(c) for c, p in conns if not p))
    prim = min(prim, 4.0) / 4.0
    alt = min(alt, 4.0) / 4.0
    feats = [
        1.0, is_first, is_last, len(assigned) / 4.0, prim, alt,
        prim * is_first, prim * is_last, alt * is_first, alt * is_last,
    ]
    onehot = [0.0] * (FEATURE_DIM - len(feats))
    onehot[zlib.crc32(f"{rel}|{slot}|{len(assigned)}".encode("utf-8")) % len(onehot)] = 1.0
    return feats + onehot


def linear_q(
    weights: list[float], text: str, rel: str, lang: str,
    assigned: dict[str, str], slot: str,
) -> float:
    if len(weights) != FEATURE_DIM:  # a stale artifact after a FEATURE_DIM
        # change would otherwise silently truncate the dot product (zip)
        raise ValueError(
            f"Q weights have {len(weights)} dims, featurize emits {FEATURE_DIM}"
        )
    return sum(w * f for w, f in zip(weights, featurize(text, rel, lang, assigned, slot)))


@lru_cache(maxsize=32)
def _parse_learned(blob: str) -> tuple[float, ...]:
    w = tuple(json.loads(blob))
    if len(w) != FEATURE_DIM:
        raise ValueError(
            f"learned policy carries {len(w)} weights, featurize emits {FEATURE_DIM}"
        )
    return w


def choose_slot(
    text: str,
    rel: str,
    lang: str,
    assigned: dict[str, str],
    remaining: list[str],
    policy: str = "rl",
) -> str:
    """Pick the next slot to extract.

    ``rl``       — argmax(Q1+Q2) ensemble, first-max tie-break (predict.py:90-92).
    ``sequence`` — always schema order (DQN.py:266-268 Sequence baseline).
    ``reverse``  — always last slot (data_filter.py:195 action=-1).
    ``random``   — deterministic pseudo-random pick keyed on the state
                   (DQN.py:263-264 Random baseline, made reproducible).
    ``learned:<json weights>`` — argmax of the TRAINED linear Q
                   (rl_train.learned_policy): deployment of an E14-trained
                   policy through the same fused inference pass.
    ``mlp:<json model>`` — argmax of a trained NON-LINEAR Q head
                   (neural.MLPQ over featurize): the neural swap seam,
                   deployed through the identical inference pass.
    """
    if len(remaining) == 1:
        # argmax over one candidate is that candidate under EVERY policy
        # (sequence [0], reverse [-1], crc32 % 1 == 0, argmax of a single Q)
        # — skip the Q scoring entirely; on 2-slot relations this halves the
        # number of scored waves.
        return remaining[0]
    if policy == "sequence":
        return remaining[0]
    if policy.startswith("mlp:"):
        import numpy as np  # noqa: PLC0415

        from . import neural  # noqa: PLC0415

        model = neural.parse_mlp(policy[4:])
        phi = np.asarray(
            [featurize(text, rel, lang, assigned, s) for s in remaining]
        )
        return remaining[int(np.argmax(model.forward(phi)))]  # first-max
    if policy.startswith("learned:"):
        w = _parse_learned(policy[len("learned:"):])
        best_i, best_q = 0, float("-inf")
        for i, slot in enumerate(remaining):
            q = linear_q(w, text, rel, lang, assigned, slot)
            if q > best_q:
                best_i, best_q = i, q
        return remaining[best_i]
    if policy == "reverse":
        return remaining[-1]
    if policy == "random":
        # process-independent hash (python's hash() is salted per worker)
        key = "\x1f".join([text, rel, *sorted(assigned), *remaining]).encode("utf-8")
        return remaining[zlib.crc32(key) % len(remaining)]
    # two-agent ensemble: agent2 adds a small any-match prior
    best_i, best_q = 0, float("-inf")
    for i, slot in enumerate(remaining):
        q1 = q_value(text, rel, lang, assigned, slot)
        q2 = 0.5 * q1 + (0.25 if q1 > 0 else 0.0)
        q = q1 + q2
        if q > best_q:  # strict: keeps first maximal index like torch.argmax
            best_i, best_q = i, q
    return remaining[best_i]


def step_state(
    text: str,
    rel: str,
    lang: str,
    assigned: dict[str, str],
    remaining: list[str],
    policy: str = "rl",
) -> tuple[str, list[tuple[str, float, float]], float]:
    """One env.step (Environment.py:186-224): choose slot, extract, score.

    Returns (chosen_slot, candidates, reward) where reward is the mean of
    per-mention max logits (Environment.py:197).

    The default ``rl`` ensemble scores slots by candidate COUNT
    (``q_value = len(raw_candidates)``), so the chosen slot's raw candidate
    list is already in hand when extraction needs it — computing it once and
    reusing it removes one full regex pass per step (the dominant per-row
    cost). Output is identical by construction: ``extract_candidates`` is
    ``score2prob(raw_candidates(...)) or [NONE_CAND]``.
    """
    if policy == "rl" and len(remaining) > 1:
        raws = {
            s: raw_candidates(text, rel, lang, assigned, s) for s in remaining
        }
        best_i, best_q = 0, float("-inf")
        for i, slot in enumerate(remaining):
            q1 = float(len(raws[slot]))
            q2 = 0.5 * q1 + (0.25 if q1 > 0 else 0.0)
            q = q1 + q2
            if q > best_q:  # strict: first-max tie-break like torch.argmax
                best_i, best_q = i, q
        chosen = remaining[best_i]
        cands = score2prob(raws[chosen]) or [NONE_CAND]
    else:
        chosen = choose_slot(text, rel, lang, assigned, remaining, policy)
        cands = extract_candidates(text, rel, lang, assigned, chosen)
    reward = sum(c[2] for c in cands) / len(cands)
    return chosen, cands, reward


def choice_reward(
    text: str,
    rel: str,
    lang: str,
    assigned: dict[str, str],
    remaining: list[str],
    action_slot: str,
    gold: list[dict[str, str]],
    depth: int = 2,
) -> tuple[float, list[tuple[str, float, float]]]:
    """E7 two-step-lookahead reward (Environment.py:101-184
    ``choice_decision``): train-time reward shaping for the slot-ordering
    agent, scoring "how much gold-consistent extraction mass does choosing
    ``action_slot`` next unlock". ``gold`` is the episode's gold tuple list
    (the reference reads ``env.spo_list[cond]``; our corpus generates it).

    depth=1 (``step == 1``): Σ max-logit over 1-step extractions of
    ``action_slot`` that match some gold tuple's value for it.
    depth=2 (``step == 2``): for every 1-step extraction e × every other
    remaining slot c × every 2-step extraction s of c given e, add
    max-logit(s) when (e, s) match some gold tuple on (action_slot, c) —
    the reference's entity-major product loop, '[None]' fallback included.

    Returns (reward, entities_1step). Pure function of its arguments, so a
    distributed reward-generation pass is one narrow map — the piece E13/E14
    (the offline DQN optimizer itself) would consume; those stay documented
    out of scope.
    """
    cands1 = extract_candidates(text, rel, lang, assigned, action_slot)
    if depth == 1:
        r = sum(
            mx
            for m, _p, mx in cands1
            for spo in gold
            if spo.get(action_slot) == m
        )
        return r, cands1
    rest = [s for s in remaining if s != action_slot]
    r = 0.0
    for m, _p, _mx in cands1:
        forked = dict(assigned)
        forked[action_slot] = m
        for c in rest:
            for m2, _p2, mx2 in extract_candidates(text, rel, lang, forked, c):
                for spo in gold:
                    if spo.get(action_slot) == m and spo.get(c) == m2:
                        r += mx2
    return r, cands1


# (text, rel, lang, assigned, remaining) — one live episode state
State = tuple[str, str, str, dict[str, str], list[str]]


def batch_step(
    states: list[State], policy: str = "rl"
) -> list[tuple[str, list[tuple[str, float, float]], float]]:
    """Score a whole WAVE of live states in ONE call — the neural-scorer
    swap point.

    The fused episode runner (slot_fill.py) collects every live state at the
    current depth across all rows of the Arrow batch and hands them here
    together, so a real model implementation can pad/stack them into one
    tensor batch and run a single GPU forward per wave (Q-net over the
    remaining slots + GlobalPointer over the chosen slot), instead of one
    forward per (row, step). For ``mlp:`` policies that is EXACTLY what
    happens: every (state, candidate-slot) feature vector in the wave
    stacks into one matrix and the model runs ONE batched forward (swap
    ``neural.MLPQ`` for a torch module and the call site is unchanged).
    For the deterministic built-in policies this just loops — the semantics
    contract is only that output[i] corresponds to states[i] and equals
    ``step_state(*states[i], policy)``.
    """
    if policy.startswith("mlp:"):
        import numpy as np  # noqa: PLC0415

        from . import neural  # noqa: PLC0415

        model = neural.parse_mlp(policy[4:])
        flat = [
            featurize(text, rel, lang, assigned, slot)
            for text, rel, lang, assigned, remaining in states
            for slot in remaining
        ]
        q = model.forward(np.asarray(flat)) if flat else np.empty(0)
        out: list[tuple[str, list[tuple[str, float, float]], float]] = []
        idx = 0
        for text, rel, lang, assigned, remaining in states:
            qs = q[idx : idx + len(remaining)]
            idx += len(remaining)
            chosen = remaining[int(np.argmax(qs))]  # first-max tie-break
            cands = extract_candidates(text, rel, lang, assigned, chosen)
            reward = sum(c[2] for c in cands) / len(cands)
            out.append((chosen, cands, reward))
        return out
    return [
        step_state(text, rel, lang, assigned, remaining, policy)
        for text, rel, lang, assigned, remaining in states
    ]
