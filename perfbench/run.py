"""Seeded KG-construction benchmark for autoextraction_spark.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 3 --trace 0

Run from the repository root. Workloads (``perfbench/workloads.py``):
``extract`` and ``dedup``; ``--seed`` defaults to 1.

A run generates the workload's inputs from the seed (three times, checking
the bytes repeat), computes the expected outputs with DuckDB, boots one
Spark session at ``local[<cores>]``, runs one untimed warm-up pass, then
runs closed-loop passes (one client; the next pass starts when the last
one ends) until ``--seconds`` have passed and the workload's minimum
number of passes is done. Every pass's
outputs are checked outside its timed region; a pass that raises or
mismatches counts as failed.

On a VM that shares its host, the hypervisor gives CPU time the VM wants
to other guests (``steal`` in ``/proc/stat``), and a pass slows in step: on
a 4-vCPU VM the stolen share of a pass reached 25-30% for tens of seconds
at a time. Each timed phase therefore also reads the machine's busy and
stolen CPU ticks, and is reported as its *unstolen* wall,
``wall * (1 - stolen share)``: the wall it would have taken had none of the
CPU time the VM wanted been taken from it. The raw walls and stolen shares
are in the run report.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``:

- ``wall_s``: median unstolen pass wall;
- ``input_rows_per_s``: input documents over ``wall_s``;
- ``setup_s``: median input-generation time plus the unstolen walls of
  the session boot and the warm-up pass.

``--trace 1`` turns on Spark's event log, runs the same untimed and timed
passes, then one traced pass that calls each layer under its own job group
(``Workload.trace``), and prints every per-layer metric of
``BENCHMARK.json``, 0 for a layer the workload does not call. One JSON line
per layer precedes the result. ``<layer>.calls`` counts the calls the
traced pass made into that layer's public functions; ``trace.overhead_s``
is the wall of the traced spans that redo the timed pass's work, less the
median raw timed pass; ``machine.raw_wall_s`` and ``machine.stolen_share``
are the median raw pass wall and stolen share of the timed passes;
``machine.peak_rss_mb`` sums the RSS high-water marks of this process and
every process below it (the JVM and the python workers) at the end of the
timed passes. Peak RSS is not an end-to-end metric here: the JVM's part of
it follows G1's heap sizing, and over four runs of the same code on a
4-vCPU VM its quartiles lay 27% of its median apart.

The last line of standard output is the result object: ``correct``,
``attempted`` and ``failed`` passes (the warm-up included) and
``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402

GEN_REPEATS = 3

#: traced span → its wall-time metric
SPAN_TIME = {
    "corpus.skeleton": "corpus.skeleton_s",
    "corpus.pages": "corpus.pages_s",
    "detect.relations": "detect.s",
    "slot_fill.episodes": "slot_fill.episodes_s",
    "output.to_triples": "output.to_triples_s",
    "pipeline.run": "pipeline.run_s",
    "pipeline.resume": "pipeline.resume_s",
    "linking.mapping": "linking.mapping_s",
    "linking.rewrite": "linking.rewrite_s",
    "canonicalize.cc": "canonicalize.cc_s",
    "graph.lpa": "graph.lpa_s",
    "graph.rules": "graph.rules_s",
    "kge.transe": "kge.transe_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.simhash": "dedup.simhash_s",
    "textstats.winnow": "textstats.winnow_s",
    "textstats.quote_pairs": "textstats.quote_pairs_s",
}
#: traced span → its job-count metric
SPAN_JOBS = {
    "linking.mapping": "linking.mapping_jobs",
    "canonicalize.cc": "canonicalize.cc_jobs",
    "graph.rules": "graph.rules_jobs",
    "kge.transe": "kge.transe_jobs",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _files_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(wl, seed: int) -> tuple[dict, list[float]]:
    """Write the inputs ``GEN_REPEATS`` times; the bytes must repeat."""
    props, times, first = {}, [], None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(wl.in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        props = wl.generate(seed)
        times.append(time.perf_counter() - t0)
        d = _files_digest(wl.in_dir)
        if first is not None and d != first:
            raise RuntimeError(f"generator wrote different bytes for seed {seed}")
        first = d
    return props, times


def self_test(wl, tables: dict) -> None:
    """The check must fire on a corrupted output: each output less a row."""
    for k, t in tables.items():
        if t.num_rows == 0:
            raise RuntimeError(f"output {k!r} is empty")
        if wl.check({k: t.slice(0, t.num_rows - 1)}) != [k]:
            raise RuntimeError(f"correctness check missed a corrupted {k!r}")


class Passes:
    """Closed-loop passes with the correctness check outside the timing."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.walls: list[float] = []
        self.stolen: list[float] = []
        self.attempted = self.failed = 0

    def one(self) -> tuple[float, float, dict | None]:
        """One pass: (raw wall, stolen share, outputs or None if it failed)."""
        ticks, t0 = tracing.cpu_ticks(), time.perf_counter()
        try:
            out = self.wl.run_pass(self.spark)
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            out = None
        wall = time.perf_counter() - t0
        stolen = tracing.stolen_share(ticks, tracing.cpu_ticks())
        if out is not None:
            bad = self.wl.check(out)
            if bad:
                print(f"pass output mismatch: {bad}", file=sys.stderr)
                out = None
        self.attempted += 1
        self.failed += out is None
        return wall, stolen, out

    def loop(self, seconds: float, min_passes: int = 1) -> None:
        deadline = time.monotonic() + seconds
        while True:
            wall, stolen, _ = self.one()
            self.walls.append(wall)
            self.stolen.append(stolen)
            if time.monotonic() >= deadline and len(self.walls) >= min_passes:
                return

    def unstolen_walls(self) -> list[float]:
        return [w * (1 - s) for w, s in zip(self.walls, self.stolen)]


def boot(work: str, trace: bool):
    from autoextraction_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        driver_memory="2g",
        extra_conf=conf,
    )


def layer_metrics(tr, groups: dict, extra: dict) -> dict[str, float]:
    m: dict[str, float] = dict(extra)
    for span, s in tr.spans.items():
        if span in SPAN_TIME:
            m[SPAN_TIME[span]] = s["wall_s"]
        if span in SPAN_JOBS:
            m[SPAN_JOBS[span]] = s["jobs"]
    for layer, n in tr.calls.items():
        m[f"{layer}.calls"] = n
    empty = tracing.empty_group()

    def group(span):
        return groups.get(tr.spans[span]["group"], empty) if span in tr.spans else empty

    sf = group("slot_fill.episodes")
    if sf["tasks"]:
        m.update({
            "slot_fill.tasks": sf["tasks"],
            "slot_fill.task_p50_ms": tracing.quantile(sf["run_ms"], 0.5),
            "slot_fill.task_p90_ms": tracing.quantile(sf["run_ms"], 0.9),
            "slot_fill.py_wait_ms_per_task": statistics.fmean(sf["wait_ms"]),
            "slot_fill.arrow_mb_in": sf["py_sent"] / tracing.MB,
            "slot_fill.arrow_mb_out": sf["py_recv"] / tracing.MB,
        })
    if "linking.mapping" in tr.spans:
        m["linking.collect_mb"] = tr.spans["linking.mapping"]["collect_bytes"] / tracing.MB
    traced = {s["group"] for s in tr.spans.values()}
    total = tracing.merge_groups([g for k, g in groups.items() if k in traced])
    m.update({
        "spark.jobs": sum(s["jobs"] for s in tr.spans.values()),
        "spark.stages": sum(s["stages"] for s in tr.spans.values()),
        "spark.tasks": total["tasks"],
        "spark.scan_mb": total["scan"] / tracing.MB,
        "spark.shuffle_write_mb": total["shuffle_write"] / tracing.MB,
        "spark.shuffle_read_mb": total["shuffle_read"] / tracing.MB,
        "spark.spill_mb": total["spill"] / tracing.MB,
        "spark.result_mb": total["result"] / tracing.MB,
        "spark.python_stages": len(total["py_stages"]),
    })
    return m


def run(wl, args, work: str) -> tuple[dict, Passes, dict]:
    props, gen_times = generate(wl, args.seed)
    t0 = time.perf_counter()
    props.update(wl.expect())
    expect_s = time.perf_counter() - t0
    ticks, t0 = tracing.cpu_ticks(), time.perf_counter()
    spark = boot(work, bool(args.trace))
    boot_s = time.perf_counter() - t0
    boot_stolen = tracing.stolen_share(ticks, tracing.cpu_ticks())
    layer: dict[str, float] = {}
    try:
        passes = Passes(wl, spark)
        warm_s, warm_stolen, tables = passes.one()
        if tables is None:
            raise RuntimeError("warm-up pass failed")
        self_test(wl, tables)
        e2e = {"setup_s": statistics.median(gen_times) + boot_s * (1 - boot_stolen)
               + warm_s * (1 - warm_stolen)}
        if args.trace:
            from bench import _calibration

            cpus = spark.sparkContext.defaultParallelism
            calib = [_calibration(spark, cpus)]
        passes.loop(args.seconds, wl.min_passes)
        peak_rss = tracing.tree_peak_rss_bytes()
        if args.trace:
            tr = tracing.Tracer(spark)
            extra = wl.trace(tr, spark)
            calib.append(_calibration(spark, cpus))
            extra.update({
                "machine.calib_s": statistics.fmean(calib),
                "trace.overhead_s": wl.replay_s - statistics.median(passes.walls),
                "machine.raw_wall_s": statistics.median(passes.walls),
                "machine.stolen_share": statistics.median(passes.stolen),
                "machine.peak_rss_mb": peak_rss / tracing.MB,
                "checkpoint.pass_drift": passes.walls[-1] / passes.walls[0],
                "checkpoint.live_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
                "checkpoint.local_dir_mb_end": tracing.dir_bytes(
                    os.path.join(work, "local")
                )[0] / tracing.MB,
            })
    finally:
        t0 = time.perf_counter()
        tracing.stop_spark(spark)
        stop_s = time.perf_counter() - t0
    if args.trace:
        groups = tracing.read_event_log(os.path.join(work, "events"))
        layer = layer_metrics(tr, groups, extra)
    wall = statistics.median(passes.unstolen_walls())
    e2e.update({
        "wall_s": wall,
        "input_rows_per_s": wl.n_input / wall,
    })
    report = {
        "seed": args.seed,
        "input": props,
        "phases_s": {
            "generate": [round(t, 4) for t in gen_times],
            "expect": round(expect_s, 4),
            "boot": round(boot_s, 4),
            "warm_up": round(warm_s, 4),
            "stop": round(stop_s, 4),
        },
        "stolen_share": {
            "boot": round(boot_stolen, 4),
            "warm_up": round(warm_stolen, 4),
            "passes": [round(s, 4) for s in passes.stolen],
        },
        "pass_walls_s": [round(w, 4) for w in passes.walls],
        "traced_input": wl.traced_input,
    }
    return {**e2e, **layer}, passes, report


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        import autoextraction_spark  # noqa: F401

        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the library under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "in"), work)
    try:
        values, passes, report = run(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = [d["name"] for d in declared]
    unknown = set(values) - {d["name"] for d in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {d["name"]: {"value": float(values.get(d["name"], 0.0)), "unit": d["unit"]}
               for d in declared}
    if args.trace:
        for layer in sorted({n.split(".")[0] for n in names}):
            print(json.dumps({
                "workload": args.workload, "layer": layer,
                "metrics": {n: metrics[n]["value"] for n in names if n.split(".")[0] == layer},
            }))
    print(json.dumps({"workload": args.workload, **report}))
    print(f"{args.workload}: fail_ratio {passes.failed}/{passes.attempted}; "
          f"{wl.n_input} input docs, {len(passes.walls)} timed passes")
    for label, inp in [("input", report["input"]), *wl.traced_input.items()]:
        if "edge_graph_est_bytes" in inp:
            reached = inp["edge_graph_est_bytes"] > inp["small_graph_max_bytes"]
            print(f"{args.workload} {label}: linking vocabulary {inp['vocab_rows']} rows, "
                  f"est {inp['vocab_est_bytes']} B vs driver bound "
                  f"{inp['driver_map_max_bytes']} B; variant-edge graph est "
                  f"{inp['edge_graph_est_bytes']} B vs connected_components' "
                  f"{inp['small_graph_max_bytes']} B driver bound, so its distributed "
                  f"star loop is {'' if reached else 'not '}reached")
    for n in names:
        print(f"  {n} = {metrics[n]['value']:.6g} {metrics[n]['unit']}")
    print(json.dumps({
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
