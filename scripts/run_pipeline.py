#!/usr/bin/env python
"""KG-construction pipeline job — the spark-submit surface.

Usage (local sandbox stands in for a cluster; same invocation shape):

    python scripts/make_pyfiles.py   # build dist/autoextraction_spark.zip
    spark-submit --py-files dist/autoextraction_spark.zip \
        scripts/run_pipeline.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/kg_out --policy rl

Runs stages A-D (text extraction → detection gate → ordered slot filling →
triples) in one python pass over the document skeleton and writes the
triple table as parquet, then prints one JSON metrics line. ``--workdir``
runs the checkpointed ``KgPipeline`` instead (text → triples → linking_map
→ canonical).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="parquet output dir (optional)")
    ap.add_argument(
        "--policy", default="rl", choices=["rl", "sequence", "reverse", "random"]
    )
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--workdir",
        default=None,
        help="enable per-stage checkpoint/resume (stages A-F: text, triples, "
        "linking_map, canonical); "
        "rerunning with the same workdir skips completed stages",
    )
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from autoextraction_spark import corpus
    from autoextraction_spark.operators import output
    from autoextraction_spark.pipeline import KgPipeline, skeleton_triples
    from autoextraction_spark.session import get_spark

    spark = get_spark(app_name="kg-pipeline", cpus=args.cpus)
    t0 = time.time()
    if args.workdir:
        p = KgPipeline(spark, args.sf_dir, args.workdir, policy=args.policy)
        triples = p.run(resume=not args.no_resume)
        n_triples = triples.count()
        gold = corpus.gold_triples(spark, args.sf_dir, canonical=True)
        m = output.metric_f1(
            triples.select("url", "pred", "subj", "obj"), gold
        ).collect()[0]
        wall = time.time() - t0
        print(json.dumps({
            "sf_dir": args.sf_dir, "policy": args.policy, "workdir": args.workdir,
            "triples": n_triples, "precision": m.precision, "recall": m.recall,
            "f1": m.f1, "wall_sec": round(wall, 2),
            "stages": p.metrics(),
        }))
        spark.stop()
        return 0
    triples = skeleton_triples(corpus.doc_skeleton(spark, args.sf_dir), args.policy)
    if args.out:
        triples.write.mode("overwrite").parquet(args.out)
        triples = spark.read.schema(triples.schema).parquet(args.out)
    n_triples = triples.count()
    gold = corpus.gold_triples(spark, args.sf_dir)
    m = output.metric_f1(triples, gold).collect()[0]
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "policy": args.policy,
                "triples": n_triples,
                "precision": m.precision,
                "recall": m.recall,
                "f1": m.f1,
                "wall_sec": round(wall, 2),
                "triples_per_sec": round(n_triples / wall, 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
