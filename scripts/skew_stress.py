#!/usr/bin/env python
"""Adversarial skew stress run (round-5 verdict item 4).

Every skew defense in the engine — salted host aggregation, AQE skew-join
splitting, map-side-combinable min-struct paragraph dedup, byte-bounded /
star CC — is argued in docstrings; this script MEASURES them under the
corpus shape 100 TB web crawls actually have:

- HOST skew: ~50% of all pages live on ONE host (the reference corpus's
  host_id math gives host 0 only 20%).
- VIRAL BOILERPLATE: one paragraph appears in EVERY document (at the
  default size that is 200k repetitions of a single paragraph key), plus a
  smaller viral paragraph on half the corpus.
- HUB ENTITY: one org is mentioned in ~half the documents, half the time
  through its variant surface — the entity-linking prefix block and the CC
  component for that entity are both hubs.

The job driven is the full pipeline shape: detect → fused episodes →
linking/CC canonicalization → triple counts, plus salted host counts and
paragraph dedup over the same pages. It runs at two parallelism levels
(default 8 and 32 cores — the N vs 4N evidence rule) with interleaved
passes, and writes walls + scaling efficiency + output invariants to
BENCH/skew_r5.json. The invariant check matters as much as the walls: both
levels must emit identical counts (skew handling must not change answers).

Run ALONE (the calibration-stall caveat in BENCH/BASELINE.md applies).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

VIRAL_PARA = (
    "Subscribe to our newsletter for weekly updates. Accept cookies to "
    "continue. All rights reserved."
)
VIRAL_PARA_2 = "Share this article on your favorite network."
HUB_ORG = "Acme Corp"
HUB_VARIANT = "Acme Corporation"


def build_pages(spark, n_docs: int):
    """Skewed synthetic corpus as ONE generated DataFrame (no files):
    url host = host0 for even doc ids (~50%), text = 1-2 fact sentences +
    the viral paragraphs; the hub org appears in every 2nd doc (variant
    surface on every 4th)."""
    from autoextraction_spark import schema as S

    def gen(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for d in pdf["id"]:
                d = int(d)
                host = 0 if d % 2 == 0 else d % 97 or 1
                url = f"https://site{host}.example.com/page/{d}"
                paras = [S.fact_sentence(d, 0, "en")]
                if d % 3 == 0:
                    paras.append(S.fact_sentence(d, 1, "en"))
                if d % 2 == 0:
                    org = HUB_VARIANT if d % 4 == 0 else HUB_ORG
                    paras.append(f"Alice Stone works for {org}.")
                paras.append(VIRAL_PARA)
                if d % 2 == 1:
                    paras.append(VIRAL_PARA_2)
                rows.append((d, url, "\n".join(paras), "en"))
            yield pd.DataFrame(rows, columns=["doc_id", "url", "text", "lang"])

    # 8 waves/core (the scaling-harness lesson, BENCH/BASELINE.md): finer
    # tasks let the scheduler route around a stalled core instead of
    # dragging a whole wave — a fixed 64 gave local[16] only 4 waves
    n_parts = max(spark.sparkContext.defaultParallelism * 8, 64)
    return spark.range(n_docs, numPartitions=n_parts).mapInPandas(
        gen, schema="doc_id long, url string, text string, lang string"
    )


def run_job(spark, n_docs: int) -> dict:
    from autoextraction_spark.materialize import ckpt
    from autoextraction_spark.operators import linking
    from autoextraction_spark.operators.dedup import paragraph_dedup
    from autoextraction_spark.pipeline import salted_host_counts, text_triples

    # t0 BEFORE plan construction (linking.canonical_triples eagerly
    # checkpoints its input, so timing only the final count would exclude
    # the heavy work). A-D and the linking/CC stage are timed separately —
    # they scale differently under this corpus size: extraction is
    # embarrassingly parallel (~0.93 efficiency at 4→16 pinned cores),
    # while canonicalization carries a ~10 s fixed floor (vocab distinct,
    # mapping build, broadcast construction, checkpoint barriers) that
    # only amortizes with corpus size.
    t0 = time.time()
    triples = ckpt(text_triples(build_pages(spark, n_docs)), eager=True, level=None)
    wall_extract = round(time.time() - t0, 3)
    t0 = time.time()
    n_canonical = linking.canonical_triples(triples).count()
    wall_linking = round(time.time() - t0, 3)
    wall_pipeline = round(wall_extract + wall_linking, 3)

    pages2 = build_pages(spark, n_docs)
    t0 = time.time()
    hosts = salted_host_counts(pages2)
    top_host = hosts.orderBy(F.desc("n_pages")).first()
    wall_hosts = round(time.time() - t0, 3)

    pages3 = build_pages(spark, n_docs)
    t0 = time.time()
    dd = paragraph_dedup(pages3)
    agg = dd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_dropped").alias("dropped"),
    ).first()
    wall_paradedup = round(time.time() - t0, 3)

    return {
        "wall_extract_ad_sec": wall_extract,
        "wall_linking_cc_sec": wall_linking,
        "wall_pipeline_sec": wall_pipeline,
        "wall_salted_hosts_sec": wall_hosts,
        "wall_paragraph_dedup_sec": wall_paradedup,
        "wall_total_sec": round(wall_pipeline + wall_hosts + wall_paradedup, 3),
        "n_canonical_triples": n_canonical,
        "top_host_pages": int(top_host["n_pages"]),
        "paragraphs_dropped": int(agg["dropped"]),
        "n_docs_out": int(agg["n"]),
    }


def run_level_inprocess(cpus: int, n_docs: int, passes: int) -> list[dict]:
    from autoextraction_spark.session import get_spark

    spark = get_spark(app_name=f"skew-{cpus}", cpus=cpus)
    warm = F.pandas_udf(lambda s: s * 1.0, T.DoubleType())
    spark.range(cpus * 20000, numPartitions=cpus * 2).select(
        warm(F.col("id").cast("double"))
    ).count()
    out = []
    for _ in range(passes):
        out.append(run_job(spark, n_docs))
        import gc

        gc.collect()
    spark.stop()
    return out


def run_level(cpus: int, n_docs: int, passes: int) -> list[dict]:
    """Each level runs in its OWN taskset-pinned subprocess (the
    scripts/scaling.py lesson): the py4j JVM persists across sessions in
    one process and inherits the FIRST level's CPU affinity, and an
    unpinned low leg quietly borrows extra vCPUs for JVM-side work,
    flattering T_N and distorting the efficiency ratio."""
    import subprocess

    cmd = [
        "taskset", "-c", f"0-{cpus - 1}", sys.executable,
        os.path.abspath(__file__),
        "--worker", str(cpus), "--docs", str(n_docs),
        "--passes", str(passes),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("[")]
    if not lines:
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"skew level {cpus} produced no result")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    # 4 vs 16: stays under the box's 16 physical cores — an 8-vs-32 pair
    # crosses the SMT boundary and measures hyperthreading, not the engine
    # (BENCH/BASELINE.md round-4 attribution)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default="BENCH/skew_r5.json")
    ap.add_argument("--worker", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.worker:
        print(json.dumps(run_level_inprocess(args.worker, args.docs, args.passes)))
        return 0

    lo = run_level(args.low, args.docs, args.passes)
    hi = run_level(args.high, args.docs, args.passes)

    def best(rows):
        return min(rows, key=lambda r: r["wall_total_sec"])

    b_lo, b_hi = best(lo), best(hi)
    invariants_match = all(
        b_lo[k] == b_hi[k]
        for k in (
            "n_canonical_triples", "top_host_pages", "paragraphs_dropped",
            "n_docs_out",
        )
    )
    ratio = args.high / args.low
    speedup = b_lo["wall_total_sec"] / b_hi["wall_total_sec"]

    def leg_eff(key: str) -> float:
        return round(b_lo[key] / b_hi[key] / ratio, 3)

    result = {
        "n_docs": args.docs,
        "skew_shape": {
            "host0_share": 0.5,
            "viral_paragraph_repeats": args.docs,
            "hub_entity_share": 0.5,
        },
        "low_cpus": args.low,
        "high_cpus": args.high,
        "passes_per_level": args.passes,
        "low": lo,
        "high": hi,
        "best_low": b_lo,
        "best_high": b_hi,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / ratio, 3),
        "per_leg_efficiency": {
            "extract_ad": leg_eff("wall_extract_ad_sec"),
            "linking_cc": leg_eff("wall_linking_cc_sec"),
            "salted_hosts": leg_eff("wall_salted_hosts_sec"),
            "paragraph_dedup": leg_eff("wall_paragraph_dedup_sec"),
        },
        "invariants_match_across_levels": invariants_match,
        "docs_per_sec_high": round(args.docs / b_hi["wall_total_sec"], 1),
    }
    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), args.out) if not os.path.isabs(args.out) else args.out
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
