"""Tests of the benchmark itself: seeded inputs, the correctness check, and
the metric names a run prints against ``BENCHMARK.json``.

    python3 -m pytest perfbench/tests -q

The generator and check tests need no Spark session; the run tests start
``perfbench/run.py`` once per workload and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

GENERATORS = {
    "documents": lambda d, s: gen.documents(d, s, 200),
    "triples": lambda d, s: gen.triple_table(d, s, 500, 300, 80, 100)[0],
}


def _bytes(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, kind):
    make = GENERATORS[kind]
    digests = {}
    for label, seed in [("a", 7), ("b", 7), ("c", 8)]:
        make(str(tmp_path / label), seed)
        digests[label] = _bytes(str(tmp_path / label))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_documents_properties(tmp_path):
    props = gen.documents(str(tmp_path), 3, 4000)
    assert props["docs"] == 4000
    assert 0.12 < props["lang_share"]["zh"] < 0.18
    assert props["near_dup_share"] == 0.1


def test_planted_variants_link_to_a_present_canonical(tmp_path):
    props, mapping = gen.triple_table(str(tmp_path), 5, 2000, 1200, 300, 400)
    assert props["linked_variants"] == len(mapping) > 0
    for variant, canonical in mapping.items():
        assert variant.endswith(" Corporation") and canonical.endswith(" Corp")
        assert variant.split(" ")[0] == canonical.split(" ")[0]


def _small_extract(tmp_path):
    wl = workloads.Extract(str(tmp_path / "in"), str(tmp_path))
    wl.n_docs = 300
    wl.generate(1)
    wl.expect()
    return wl


def test_check_accepts_expected_and_fires_on_corruption(tmp_path):
    wl = _small_extract(tmp_path)
    gold = workloads.oracle_table(wl.in_dir, "kg_triples")
    assert gold.num_rows > 0
    assert wl.check({"triples": gold}) == []
    assert wl.check({"triples": gold.slice(1)}) == ["triples"]


def test_traced_output_verification_fires_on_corruption(tmp_path):
    wl = _small_extract(tmp_path)
    query = {"simhash": "simhash"}
    sim = workloads.oracle_table(wl.in_dir, "simhash")

    class Collected:  # stands in for a DataFrame collected with toArrow
        def __init__(self, table):
            self.toArrow = lambda: table

    wl._verify({"simhash": Collected(sim)}, query)
    with pytest.raises(RuntimeError, match="simhash"):
        wl._verify({"simhash": Collected(sim.slice(1))}, query)


def test_dedup_check_accepts_oracle_outputs(tmp_path):
    wl = workloads.Dedup(str(tmp_path / "in"), str(tmp_path))
    wl.n_docs = 200
    wl.generate(2)
    wl.expect()
    outputs = {k: workloads.oracle_table(wl.in_dir, q) for k, q in workloads.DEDUP_QUERIES.items()}
    assert wl.check(outputs) == []
    assert wl.check({"quote_pairs": outputs["quote_pairs"].slice(1)}) == ["quote_pairs"]


def test_stolen_share_is_stolen_over_wanted_cpu_time():
    assert tracing.stolen_share((100, 10), (190, 20)) == 0.1
    assert tracing.stolen_share((100, 10), (100, 10)) == 0.0
    busy, stolen = tracing.cpu_ticks()
    assert busy > 0 and stolen >= 0


def test_oracle_gold_graph_swap():
    from autoextraction_spark import oracle

    sql = workloads._swap_gold_graph(oracle.rule_inference_sql(workloads.RULES))
    assert "FROM canon" in sql and "FROM documents" not in sql


# ------------------------------------------------------------------ runs

def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> tuple[dict, list[dict]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return lines[-1], lines[:-1]


@pytest.fixture(scope="module")
def traced():
    out = {}
    for w in SPEC["workloads"]:
        args = ["--workload", w["name"], "--seed", "4", "--seconds", "1", "--trace", "1"]
        out[w["name"]] = _result(_run(*args))
    return out


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(workloads.WORKLOADS)


def test_untraced_run_prints_every_end_to_end_metric():
    result, _ = _result(_run("--workload", "extract", "--seed", "9", "--seconds", "1"))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_runs_name_every_per_layer_metric(traced):
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name, (result, records) in traced.items():
        assert result["correct"], name
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want, name
        layers = [r for r in records if "layer" in r]
        assert {n for r in layers for n in r["metrics"]} == set(want), name


def test_traced_runs_stress_their_layers(traced):
    m = {w: {k: v["value"] for k, v in r["metrics"].items()} for w, (r, _) in traced.items()}
    ext, dd = m["extract"], m["dedup"]
    for layer in ("corpus", "slot_fill", "output", "pipeline", "detect", "linking",
                  "canonicalize", "graph", "kge"):
        assert ext[f"{layer}.calls"] > 0, layer
    assert ext["dedup.calls"] == ext["textstats.calls"] == 0
    assert ext["pipeline.bytes_written_mb"] > 0
    # the blocked-join path: several jobs, and less collected than the
    # vocabulary's own size (every mention has at least 5 bytes)
    assert ext["linking.mapping_jobs"] > 5
    assert ext["linking.collect_mb"] * 2**20 < 5 * ext["linking.vocab_rows"]
    assert dd["dedup.calls"] > 0 and dd["textstats.calls"] > 0
    for layer in ("corpus", "slot_fill", "pipeline", "linking", "graph", "kge"):
        assert dd[f"{layer}.calls"] == 0, layer
    assert dd["dedup.lsh_candidates"] > 0 and 0 < dd["dedup.verify_ratio"] <= 1


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "extract", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
