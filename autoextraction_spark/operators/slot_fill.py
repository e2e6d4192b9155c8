"""Stage C — ordered slot filling: adaptive-order episode execution.

Reference semantics (operators E2-E12, SURVEY.md §2.3): per (document,
relation) an episode fills slots one at a time in an adaptively chosen order;
every candidate mention for the chosen slot FORKS the state
(Environment.py:186-224 ``step``: dedup at :198, fork loop :200-214), up to
20 rounds (predict.py:86), until no slots remain.

Spark-first design: the episode is a pure function of a single row
(text, rel, lang) — no step of it ever needs data from another row — so the
whole bounded fork recursion runs inside ONE Arrow-vectorized
``mapInPandas`` pass and emits the completed typed states
``(url, rel, lang, assigned map<string,string>, remaining
array<string>, score double, step int)`` directly. One narrow map stage
over (pages × gated relations): zero shuffles, zero per-round lineage or
checkpoint barriers, and the (large) text column crosses the Arrow
boundary at most once, into the pass and never out of it.

One episode engine (``_episode_frame``), two entry points:

- ``episodes_from_skeleton`` — stages A-C from the (doc_id, lang)
  skeleton in one hop (``pipeline.skeleton_triples``);
- ``ordered_slot_fill`` — detected (url, rel, text, lang) rows, as emitted
  by ``detect.detect_relations`` (``pipeline.text_triples``, the event
  query).

Loop depth is bounded by the max slot count (≤ ~6, cap 20 = reference
episode cap DQN.py:21/predict.py:86). ``tests/test_slot_fill.py`` checks
the engine against a plain depth-first recursion over
``scorers.step_state`` on every policy.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import scorers
from .. import schema as S

MAX_STEPS = 20  # reference episode cap, DQN.py:21 / predict.py:86

STATE_COLS = ["url", "rel", "lang", "assigned", "remaining", "score", "step"]
_STATE_SCHEMA = (
    "url string, rel string, lang string, assigned map<string,string>, "
    "remaining array<string>, score double, step int"
)


def initial_remaining(rel: str, lang: str) -> list[str]:
    """Slot schema per relation/event type (Environment.py:64-85,402-405)."""
    if rel in S.EVENTS:
        return list(S.EVENTS[rel]["roles"])
    return list(S.ZH_SLOTS) if lang == "zh" else list(S.EN_SLOTS)


def _episode_frame(
    rows: list[tuple],
    policy: str,
    max_steps: int,
    dedup_assignments: bool,
) -> pd.DataFrame:
    """Run every (url, rel, text, lang) episode of one Arrow batch to
    completion and return the completed typed states as one DataFrame —
    the shared wave engine behind ``ordered_slot_fill`` and
    ``episodes_from_skeleton`` (one interior, two physical entry points)."""
    out: dict[str, list] = {c: [] for c in STATE_COLS}
    # per-row sets of already-emitted assignments (dedup_assignments):
    # different fork paths of ONE episode tree can complete with the
    # same assignment map, and downstream set-semantics consumers
    # (O4 distinct) only look at (url, rel, assigned) — all constant
    # or keyed within this row. Dropping the duplicates HERE, where
    # the whole tree is in hand, replaces a full-output shuffle.
    seen: list[set] = [set() for _ in rows] if dedup_assignments else []

    def emit(ri: int, assigned: dict, remaining: list, score: float, step: int):
        if dedup_assignments:
            key = (frozenset(assigned.items()), tuple(remaining))
            if key in seen[ri]:
                return
            seen[ri].add(key)
        url, rel, _text, lang = rows[ri]
        out["url"].append(url)
        out["rel"].append(rel)
        out["lang"].append(lang)
        out["assigned"].append(assigned)
        out["remaining"].append(remaining)
        out["score"].append(score)
        out["step"].append(step)

    # BREADTH-FIRST fork waves across the whole Arrow batch: every
    # live state at the current depth — across all rows — is scored
    # by ONE scorers.batch_step call, so a neural scorer runs one
    # tensor-batched forward per wave instead of one per (row, step)
    # (the model-batching seam, VERDICT.md round-2 item 2). Bounded
    # by max_steps; terminates regardless — the '[None]' fallback
    # fills every slot, so remaining shrinks by 1 per wave.
    wave: list[tuple[int, dict, list[str], float, int]] = [
        (ri, {}, initial_remaining(rel, lang), 0.0, 0)
        for ri, (_url, rel, _text, lang) in enumerate(rows)
    ]
    while wave:
        pending = []
        for ri, assigned, remaining, score, step in wave:
            if not remaining or step >= max_steps:
                emit(ri, assigned, remaining, score, step)
            else:
                pending.append((ri, assigned, remaining, score, step))
        if not pending:
            break
        results = scorers.batch_step(
            [
                (rows[ri][2], rows[ri][1], rows[ri][3], assigned, remaining)
                for ri, assigned, remaining, _score, _step in pending
            ],
            policy,
        )
        wave = []
        for (ri, assigned, remaining, score, step), (slot, cands, _rw) in zip(
            pending, results
        ):
            rem2 = [r for r in remaining if r != slot]
            for mention, _prob, sc in cands:
                forked = dict(assigned)
                forked[slot] = mention
                wave.append((ri, forked, rem2, score + sc, step + 1))
    return pd.DataFrame(out)


def _episode_batches(policy: str, max_steps: int, dedup_assignments: bool):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = list(zip(pdf["url"], pdf["rel"], pdf["text"], pdf["lang"]))
            yield _episode_frame(rows, policy, max_steps, dedup_assignments)

    return run


def _skeleton_episode_batches(policy: str, max_steps: int, dedup_assignments: bool):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import corpus as C
        from .text_extract import extract_text

        # lang -> [(rel, primary, alt)]: the rows of detect.relation_anchors
        anchors: dict[str, list[tuple[str, str, str | None]]] = {}
        for lang, rel, primary, alt in S.relation_anchor_rows():
            anchors.setdefault(lang, []).append((rel, primary, alt))
        for pdf in batches:
            rows: list[tuple] = []
            for d, lg in zip(pdf["doc_id"].astype("int64"), pdf["lang"]):
                lang = S.doc_lang(lg)
                text = extract_text(C.build_html(int(d), lang).encode("utf-8"))
                url = S.page_url(int(d))
                # the E1 gate, in python: keep (url, rel) iff the primary
                # anchor (logit 2.5, sigmoid .924) or the alt anchor
                # (logit 1.5, sigmoid .817) occurs in the text; misses score
                # sigmoid(-3.0)=.047 < .6 — so keep ⟺ anchor-substring hit,
                # exactly detect.detect_relations' rc_score > 0.6 set
                # (python ``in`` ≡ instr(text, anchor) > 0 for exact
                # substring match; asserted fused ≡ staged in tests)
                for rel, primary, alt in anchors.get(lang, ()):
                    if primary in text or (alt is not None and alt in text):
                        rows.append((url, rel, text, lang))
            yield _episode_frame(rows, policy, max_steps, dedup_assignments)

    return run


def episodes_from_skeleton(
    skel: DataFrame,
    policy: str = "rl",
    max_steps: int = MAX_STEPS,
    dedup_assignments: bool = True,
) -> DataFrame:
    """Stages A-C in ONE python hop: generation → frozen extract_text →
    E1 anchor gate → fused episode waves, all inside a single
    ``mapInPandas`` over the (doc_id, lang) skeleton.

    The two-hop layout (corpus.web_pages python pass → JVM detect gate →
    ordered_slot_fill python pass) crosses the JVM↔python boundary twice per
    task and re-serializes the corpus text through Arrow in between. Every
    decision in between (the anchor gate) is a per-row pure function, so the
    whole chain is row-local — one python stage, the text NEVER crosses
    Arrow (only the completed typed states do), and the fixed per-task
    python-worker setup is paid once instead of twice. Event-log task
    metrics at sf0.1 once measured 480 ms median task wall vs 8 ms CPU, most
    of the gap being the worker's importlib.invalidate_caches() re-reading
    Spark's zip archives, 150-290 ms per task; ``pydaemon`` workers import
    the installed pyspark instead, so that call no longer touches an
    archive (see corpus.doc_skeleton).

    Output is byte-identical to
    ``ordered_slot_fill(detect_relations(web_pages(...)))``:
    the gate replicates the anchor-presence predicate and the episode
    interior is the shared ``_episode_frame``. Cross-checked in
    tests/test_slot_fill.py."""
    return skel.mapInPandas(
        _skeleton_episode_batches(policy, max_steps, dedup_assignments),
        schema=_STATE_SCHEMA,
    )


def ordered_slot_fill(
    detected: DataFrame,
    policy: str = "rl",
    max_steps: int = MAX_STEPS,
    dedup_assignments: bool = False,
) -> DataFrame:
    """Run every episode to completion in a single ``mapInPandas`` pass.

    Returns completed typed states (``remaining = []`` unless ``max_steps``
    truncated the episode) without the text column: downstream
    triple/event materialization never reads it, and not re-serializing
    the corpus text through Arrow is a material win.

    ``dedup_assignments=True`` drops states that repeat an earlier state's
    (assigned, remaining) within the same episode tree, keeping the first
    (highest-wave-priority) representative. Consumers with SET semantics
    over (url, rel, assigned) lose nothing by it; leave False for consumers
    that weight states by multiplicity or score (RL transition collection
    keeps every path). The result is globally unique only if the input has
    one row per (url, rel); ``pipeline.text_triples`` does not assume that
    and keeps its ``distinct()``.
    """
    return detected.mapInPandas(
        _episode_batches(policy, max_steps, dedup_assignments),
        schema=_STATE_SCHEMA,
    )
