#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north_rule).

Runs the IDENTICAL job (stages A-D over an identical replicated corpus) at
two parallelism levels — local[N] and local[4N] cores standing in for N and
4N executors in this sandbox — and reports throughput at both plus scaling
efficiency = (T_N / T_4N) / 4. Results go to BENCH/BASELINE.md.

The job is the compute-bound extraction path (Arrow-batched scorer UDFs), so
the measurement reflects the pipeline's parallel fraction, not Spark's fixed
per-job overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = """
import json, os, sys, time
sys.path.insert(0, sys.argv[4])
from autoextraction_spark.session import get_spark
from autoextraction_spark import corpus
from autoextraction_spark.materialize import ckpt
from autoextraction_spark.pipeline import skeleton_triples

cpus = int(sys.argv[1]); sf_dir = sys.argv[2]; replicate = int(sys.argv[3])
spark = get_spark(app_name=f"scaling-{cpus}", cpus=cpus)

# Materialize the synthetic id-space ONCE (DISK_ONLY checkpoint): the
# skeleton bootstrap (parquet read of the 5k-row seed, repartition shuffle,
# max-id agg job, replica explode) is sandbox scaffolding standing in for
# "the crawl is already in storage" — a real deployment's job starts at the
# page scan. Each timed pass still READS the materialized skeleton from disk
# and runs the full generation->extraction->detection->slot-fill->triples
# pipeline over it.
# waves_per_core=8: measured at local[16], the finer tasks + post-explode
# uniform partitions recover ~7% of wall vs the 4-wave default (stalled
# cores hand their remaining work to the scheduler instead of dragging a
# whole wave; see corpus.doc_skeleton, measured in docs/ROUND5.md and
# BENCH/BASELINE.md)
skel = ckpt(corpus.doc_skeleton(spark, sf_dir, replicate, waves_per_core=8), eager=True)

def job():
    # the stages A-D hot path: generation -> extract -> anchor gate ->
    # episodes in one mapInPandas (pipeline.skeleton_triples)
    return skeleton_triples(skel).count()

# Untimed warm-up run: spawning the python-worker pool at high parallelism is
# kernel-bound (fork + import storm, ~15s for 32 workers) and on a real
# cluster happens once per executor lifetime, not per job. Measure steady
# state (min of N), which is what 100 TB throughput is made of. The warm-up
# only needs to spawn the pool + JIT the plan, so it runs at a reduced
# replicate (interleaved mode boots one session per pass and would otherwise
# pay a full-size untimed job every time).
warm_replicate = min(replicate, 64)
warm_skel = corpus.doc_skeleton(spark, sf_dir, replicate=warm_replicate,
                                waves_per_core=8)
skeleton_triples(warm_skel).count()
walls, n = [], 0
passes = int(os.environ.get("SPARK_GRAFT_SCALING_PASSES", "3"))
for _ in range(passes):
    t0 = time.time()
    n = job()
    walls.append(round(time.time() - t0, 2))
n_docs = corpus.read_table(spark, sf_dir, "documents", "doc_id").count() * replicate
print(json.dumps({"cpus": cpus, "wall": min(walls), "walls": walls,
                  "triples": n, "docs": n_docs}))
spark.stop()
"""


def run(cpus: int, sf_dir: str, replicate: int, pin: bool = False) -> dict:
    cmd = [sys.executable, "-c", WORKER, str(cpus), sf_dir, str(replicate), REPO]
    if pin:
        # Pin the WHOLE worker process tree (JVM task threads, GC, Arrow
        # serialization, python workers) to exactly `cpus` vCPUs. Unpinned,
        # the low-parallelism leg of an N vs 4N comparison quietly borrows
        # extra cores from the 32-vCPU box — JVM-side Arrow/GC/shuffle work
        # runs BESIDE the N python workers instead of sharing their cores —
        # which flatters T_N and understates scaling efficiency. A real
        # N-core executor has no such spare cores; taskset restores that
        # boundary. (Task-metrics evidence: the same job costs ~850 task
        # core-seconds at unpinned local[4] vs ~1060 at local[16] — the
        # inflation is concurrent-footprint contention, not scheduling.)
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"worker local[{cpus}] produced no result")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicate", type=int, default=16)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument(
        "--pin",
        action="store_true",
        help="taskset each leg to exactly its core count (faithful N-core "
        "executor emulation; see run()).",
    )
    ap.add_argument(
        "--interleave",
        type=int,
        default=0,
        metavar="R",
        help="R rounds of alternating single-pass N / 4N legs (one fresh "
        "session per pass), min per leg. On a machine with wandering "
        "degraded windows, sequential legs sample DIFFERENT windows and "
        "the ratio is window luck, not scaling; alternating passes give "
        "both legs the same set of windows to draw their min from.",
    )
    args = ap.parse_args()

    results: dict[int, dict] = {}
    if args.interleave:
        os.environ["SPARK_GRAFT_SCALING_PASSES"] = "1"
        walls: dict[int, list[float]] = {args.n: [], args.n * 4: []}
        for rnd in range(args.interleave):
            for cpus in (args.n, args.n * 4):
                t0 = time.time()
                r = run(cpus, args.sf_dir, args.replicate, pin=args.pin)
                walls[cpus].extend(r["walls"])
                results[cpus] = r
                print(
                    f"round {rnd} local[{cpus}]: {r['walls']} "
                    f"(+boot {time.time()-t0-r['wall']:.0f}s)",
                    file=sys.stderr,
                )
        for cpus, ws in walls.items():
            results[cpus]["walls"] = ws
            results[cpus]["wall"] = min(ws)
    else:
        for cpus in (args.n, args.n * 4):
            t0 = time.time()
            results[cpus] = run(cpus, args.sf_dir, args.replicate, pin=args.pin)
            print(
                f"local[{cpus}]: {results[cpus]} "
                f"(+boot {time.time()-t0-results[cpus]['wall']:.0f}s)",
                file=sys.stderr,
            )

    lo, hi = results[args.n], results[args.n * 4]
    speedup = lo["wall"] / hi["wall"]
    eff = speedup / 4
    summary = {
        "job": "kg stages A-D (extraction->detection->ordered slot filling->triples)",
        "sf_dir": args.sf_dir,
        "replicate": args.replicate,
        "docs": lo["docs"],
        "n_cpus": args.n,
        "wall_n": round(lo["wall"], 2),
        "wall_4n": round(hi["wall"], 2),
        "walls_n": lo.get("walls"),
        "walls_4n": hi.get("walls"),
        "docs_per_sec_n": round(lo["docs"] / lo["wall"], 2),
        "docs_per_sec_4n": round(hi["docs"] / hi["wall"], 2),
        "triples_per_sec_n": round(lo["triples"] / lo["wall"], 2),
        "triples_per_sec_4n": round(hi["triples"] / hi["wall"], 2),
        "speedup": round(speedup, 3),
        "efficiency": round(eff, 3),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
