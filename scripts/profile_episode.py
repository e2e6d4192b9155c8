#!/usr/bin/env python
"""Single-core cProfile of the fused episode pass's python interior.

The round-4/5 scaling decomposition and stage telemetry (docs/ROUND5.md,
BENCH/BASELINE.md) measured the ordered slot-filling stage at ~80% of the
pipeline wall, all of it python-worker compute (JVM cpu ~= 0, gap ~= 0);
``perfbench/run.py --trace 1`` reports the fused hop's per-layer walls and
task p50/p90/python-wait today. This profiles exactly what one worker
does — generation, extraction, detection gating, episode waves — WITHOUT
Spark, on one core, so the function-level costs (regex scan vs regex
compile vs python object churn) are visible and comparable across commits.

    python scripts/profile_episode.py --docs 4000 --sort cumtime | head -50
"""

from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--sort", default="tottime")
    ap.add_argument("--top", type=int, default=30)
    args = ap.parse_args()

    from autoextraction_spark import schema as S
    from autoextraction_spark.corpus import build_html
    from autoextraction_spark.operators.text_extract import extract_text
    from autoextraction_spark import scorers
    from autoextraction_spark.operators.slot_fill import initial_remaining

    # synthesize the same per-doc work the worker does
    docs = []
    for d in range(args.docs):
        lang = "zh" if d % 3 == 2 else "en"
        docs.append((d, lang))

    def run() -> int:
        n_states = 0
        for d, lang in docs:
            html = build_html(d, lang).encode("utf-8")
            text = extract_text(html)
            for rel in list(S.EN_TEMPLATES) + list(S.EVENTS):
                # cheap stand-in for the detection gate: relations whose
                # anchor text is present (same work shape as detect)
                if rel in S.EVENTS:
                    if S.EVENTS[rel]["anchor"] not in text:
                        continue
                elif not any(c in text for c, _ in scorers._connectors(rel, "en" if rel in S.EN_TEMPLATES else lang)):
                    continue
                lang_r = S.EVENTS[rel]["lang"] if rel in S.EVENTS else "en"
                wave = [({}, initial_remaining(rel, lang_r))]
                for _ in range(20):
                    if not wave:
                        break
                    nxt = []
                    for assigned, remaining in wave:
                        if not remaining:
                            n_states += 1
                            continue
                        slot, cands, _rw = scorers.step_state(
                            text, rel, lang_r, assigned, remaining, "rl"
                        )
                        rem2 = [r for r in remaining if r != slot]
                        for mention, _p, _s in cands:
                            forked = dict(assigned)
                            forked[slot] = mention
                            nxt.append((forked, rem2))
                    wave = nxt
        return n_states

    t0 = time.time()
    pr = cProfile.Profile()
    pr.enable()
    n = run()
    pr.disable()
    wall = time.time() - t0
    print(f"docs={args.docs} completed_states={n} wall={wall:.2f}s "
          f"docs_per_core_sec={args.docs / wall:.0f}")
    pstats.Stats(pr).sort_stats(args.sort).print_stats(args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
