#!/usr/bin/env python
"""sf0.1 walls for a query family, captured with the bench.py discipline
(calibration probe bracketing each pass, min over quiet passes, raw walls
kept) rather than the bare min-of-2 the r4 verdict criticized. Run ALONE.

Prints one JSON line. The default query list is the round-5 session-4
family (captured in BENCH/new_family_r5s4.json); choose others with
SPARK_GRAFT_FAMILY_QUERIES=<comma-list>. The JSON is also written to
BENCH/<name> only when SPARK_GRAFT_FAMILY_OUT=<name> is set, so a default
run never overwrites a committed capture. The heavy non-headline family
of BENCH/family_extra_r6.json is

  SPARK_GRAFT_FAMILY_QUERIES=winnow,quote_pairs,cdc_chunks,tfidf_keywords,\
knn_graph,dedup_recall_eval,incremental_dedup,dedup_best_survivor,\
kg_rule_mining,host_profile,kg_scc,kg_closure,bpe_train
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "bpe_train", "bpe_vocab", "bpe_fertility",
    "kg_scc", "kg_toposort", "kg_pmi", "kg_paths",
    "link_graph", "host_authority", "crawl_frontier", "crawl_schedule",
    "temperature_mix", "chunk_docs", "mirror_hosts",
]
QUERIES = [
    q
    for q in os.environ.get(
        "SPARK_GRAFT_FAMILY_QUERIES", ",".join(DEFAULT_QUERIES)
    ).split(",")
    if q
]
OUT_NAME = os.environ.get("SPARK_GRAFT_FAMILY_OUT")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))

    import __spark_entry__ as entrymod
    from autoextraction_spark.session import get_spark
    from bench import _calibration

    spark = get_spark(app_name="new_family_bench", cpus=cpus)
    qs = entrymod.queries()

    ref_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "calibration_floor.json",
    )
    with open(ref_path) as fh:
        cal_floor = float(json.load(fh)["floor_sec"])
    cal_band = round(max(2.5 * cal_floor, cal_floor + 1.0), 3)

    raw: dict[str, list[float]] = {n: [] for n in QUERIES}
    rows: dict[str, int] = {}
    cal_per_pass: list[list[float]] = []
    quiet_flags: list[bool] = []
    for _ in range(passes):
        cal_pre = _calibration(spark, cpus)
        for name in QUERIES:
            t0 = time.time()
            rows[name] = qs[name](spark, sf_dir).count()
            raw[name].append(round(time.time() - t0, 3))
            gc.collect()
        cal_post = _calibration(spark, cpus)
        cal_per_pass.append([cal_pre, cal_post])
        quiet_flags.append(cal_pre <= cal_band and cal_post <= cal_band)

    use = [i for i, q in enumerate(quiet_flags) if q] or list(
        range(len(quiet_flags))
    )
    timings = {n: min(raw[n][i] for i in use) for n in QUERIES}
    out = {
        "metric": "new_family_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "raw_walls": raw,
        "rows": rows,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "passes": len(quiet_flags),
        "quiet_passes": sum(quiet_flags),
        "degraded": not any(quiet_flags),
        "calibration": {
            "floor_sec": cal_floor, "band_sec": cal_band,
            "per_pass": cal_per_pass,
        },
    }
    if OUT_NAME:
        dest = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH", OUT_NAME,
        )
        with open(dest, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
