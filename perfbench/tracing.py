"""Measurement plumbing for the benchmark: process-tree peak RSS, Spark
job-group spans and Spark event-log task metrics.

Nothing here reaches into the library under test. Spans are recorded around
the benchmark's own calls into each layer; task-level numbers come from the
event log Spark writes for the traced session.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

MB = 2**20

#: SQL metrics the python-UDF physical operators attach to each task
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


# ---------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_peak_rss_bytes() -> int:
    """Sum over this process and every live process below it (the JVM and
    the python workers) of the kernel's resident-set high-water mark.

    Read once, from ``/proc``, while the processes are still alive: polling
    the tree's RSS every 100 ms during the passes slowed them by about 40%
    on a 4-vCPU VM."""
    me = os.getpid()
    return sum(_peak_rss_bytes(p) for p in [me, *descendants(me)])


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU clock ticks of the whole machine so far, from the
    first line of ``/proc/stat``. Busy is user + nice + system + irq +
    softirq; stolen is the time the hypervisor ran another guest while this
    one's CPUs had work to do. (0, 0) where ``/proc/stat`` is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0)


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the CPU time this machine wanted between two
    ``cpu_ticks`` readings that the hypervisor gave to other guests."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = descendants(os.getpid())
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


# ------------------------------------------------------------------- spans

class Tracer:
    """Runs each layer call under its own Spark job group and records its
    wall time, the jobs and stages ``statusTracker`` saw for the group, and
    the bytes of the rows the call collected into the driver.

    ``span(name, fn)`` calls ``fn()``; when it returns a DataFrame the span
    forces it with a ``noop`` write, so the timed region covers the layer's
    whole execution and nothing downstream of it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, dict] = {}
        self.calls: dict[str, int] = defaultdict(int)
        self._seq = 0

    def span(self, name: str, fn, layer_call: bool = True):
        from pyspark.sql import DataFrame
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        self._seq += 1
        group = f"{self._seq:03d}:{name}"
        collected = 0
        collect = ClassicDataFrame.collect

        def counting_collect(df):
            nonlocal collected
            rows = collect(df)
            collected += sum(len(str(v).encode()) for r in rows for v in r)
            return rows

        self.sc.setJobGroup(group, name)
        ClassicDataFrame.collect = counting_collect
        t0 = time.perf_counter()
        try:
            out = fn()
            if isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
        finally:
            wall = time.perf_counter() - t0
            ClassicDataFrame.collect = collect
            self.sc.setJobGroup("untraced", "untraced")
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        if layer_call:
            self.calls[name.split(".")[0]] += 1
        self.spans[name] = {
            "group": group,
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": len(stages),
            "collect_bytes": collected,
        }
        return out

    def materialize(self, name: str, fn):
        """Run ``fn()`` and localCheckpoint its DataFrame, as the input of a
        later span; recorded under its own group, not counted as a call."""
        return self.span(
            name, lambda: fn().localCheckpoint(eager=True), layer_call=False
        )


# --------------------------------------------------------------- event log

def empty_group() -> dict:
    return {
        "tasks": 0, "run_ms": [], "wait_ms": [], "stages": set(),
        "py_stages": set(), "scan": 0, "shuffle_write": 0, "shuffle_read": 0,
        "spill": 0, "result": 0, "py_sent": 0, "py_recv": 0,
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task count, task run-time samples, JVM CPU time, and
    the byte counters of the group's tasks, from the event log the traced
    session wrote into ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(empty_group)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid, "")]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                cpu_ms = m.get("Executor CPU Time", 0) / 1e6
                g["tasks"] += 1
                g["stages"].add(sid)
                g["run_ms"].append(run_ms)
                g["wait_ms"].append(max(run_ms - cpu_ms, 0.0))
                g["scan"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                g["result"] += m.get("Result Size", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (PY_SENT, PY_RECV):
                        g["py_sent" if name == PY_SENT else "py_recv"] += int(
                            acc.get("Update", 0)
                        )
                        g["py_stages"].add(sid)
    return dict(groups)


def merge_groups(groups: list[dict]) -> dict:
    out = empty_group()
    for g in groups:
        for k, v in g.items():
            if isinstance(v, set):
                out[k] |= v
            else:
                out[k] += v
    return out


def quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]
