from __future__ import annotations

import contextlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from autoextraction_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="autoextraction-tests", cpus=4, shuffle_partitions=8,
                  driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``count(group, action)``: the number of Spark jobs ``action()`` runs
    under job group ``group``. A marker job after it makes sure the status
    tracker has seen them all."""
    sc = spark.sparkContext

    def count(group, action):
        try:
            sc.setJobGroup(group, "counted")
            action()
            sc.setJobGroup(group + "-marker", "marker")
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        while not tracker.getJobIdsForGroup(group + "-marker"):
            time.sleep(0.01)
        return len(tracker.getJobIdsForGroup(group))

    return count


class Killed(Exception):
    """A job killed mid-write."""


@pytest.fixture(scope="session")
def killed_manifest_write():
    """``with killed_manifest_write(table_dir): ...`` makes the manifest
    write of ``table_dir`` raise ``Killed``, as a job killed after the
    parquet commit and before the manifest would, and expects the body to
    be killed by it."""
    from autoextraction_spark import store

    @contextlib.contextmanager
    def kill(table_dir):
        real = store.write_json

        def write_json(path, obj):
            if os.path.dirname(path) == table_dir:
                raise Killed(path)
            real(path, obj)

        with pytest.MonkeyPatch.context() as m, pytest.raises(Killed):
            m.setattr(store, "write_json", write_json)
            yield

    return kill


def _state_key(url, rel, lang, assigned, remaining, score, step):
    return (url, rel, lang, tuple(sorted(assigned.items())), tuple(remaining),
            round(score, 9), step)


@pytest.fixture(scope="session")
def norm_states():
    """Sorted ``_state_key`` tuples of a completed-state DataFrame."""
    return lambda df: sorted(
        _state_key(r.url, r.rel, r.lang, r.assigned, r.remaining, r.score, r.step)
        for r in df.collect()
    )


@pytest.fixture(scope="session")
def reference_states():
    """Independent reference for the slot-fill engine: a depth-first
    recursion running one ``scorers.step_state`` fork per state — the
    reference's ``Environment.step`` (Environment.py:186-224) — with no
    waves, batching or dedup. ``run(det, policy, max_steps)`` returns the
    sorted ``_state_key`` tuples of the episodes of ``det``'s
    (url, rel, text, lang) rows."""
    from autoextraction_spark import schema as S
    from autoextraction_spark import scorers

    def run(det, policy, max_steps=20):
        out = []

        def walk(row, assigned, remaining, score, step):
            url, rel, text, lang = row
            if not remaining or step >= max_steps:
                out.append(_state_key(url, rel, lang, assigned, remaining, score, step))
                return
            slot, cands, _rw = scorers.step_state(text, rel, lang, assigned, remaining, policy)
            rest = [s for s in remaining if s != slot]
            for mention, _prob, sc in cands:
                walk(row, {**assigned, slot: mention}, rest, score + sc, step + 1)

        for r in det.collect():
            slots = S.EVENTS[r.rel]["roles"] if r.rel in S.EVENTS else (
                S.ZH_SLOTS if r.lang == "zh" else S.EN_SLOTS)
            walk((r.url, r.rel, r.text, r.lang), {}, list(slots), 0.0, 0)
        return sorted(out)

    return run
