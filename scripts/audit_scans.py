#!/usr/bin/env python
"""Plan-hygiene audit: per query, how many times does the physical plan
scan a parquet source / a checkpointed RDD / run a python stage?

Spark does not reuse repeated subplans across join branches, so a derived
table consumed N times is usually N full re-executions of its upstream —
round 3 found the corpus being scanned 6× per dedup query this way (fixed
with once-per-query materialization; see README "Scale design notes").
Run this after adding or changing a query: a parquet-scan count above the
query's inherent number of source tables is a recompute bug.

``explain('formatted')`` prints every node twice (tree + detail section);
counts below are already halved. ``Scan ExistingRDD`` counts checkpoints
only: driver-built rows enter plans as ``LocalTableScan``
(``materialize.local_table``).

``tests/test_properties.py`` pins these counts per query so the recompute
class of bug cannot silently return (VERDICT r3 item 10).

    python scripts/audit_scans.py                      # every query
    python scripts/audit_scans.py winnow quote_pairs   # only these
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, tuple[int, int, int]]:
    """{query: (parquet_scans, checkpoint_rdd_scans, python_stages)} for
    every entry in __spark_entry__.queries() (or only the ``names`` given)
    whose plan builds lazily."""
    import __spark_entry__ as entrymod

    # Audit on a clean cache: a session-wide .cache() left by an earlier
    # caller substitutes InMemoryTableScan nodes (whose stored plan is
    # printed once, not twice, by explain("formatted")) and shifts the
    # counts depending on what ran before — the audit must measure the
    # query's own plan, not incidental session cache state.
    spark.catalog.clearCache()

    queries = entrymod.queries()
    if names is not None:
        queries = {name: queries[name] for name in names}
    out: dict[str, tuple[int, int, int]] = {}
    for name, fn in queries.items():
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        out[name] = (
            p.count("Scan parquet") // 2,
            p.count("Scan ExistingRDD") // 2,
            p.count("MapInPandas") // 2,
        )
    return out


def main() -> int:
    from autoextraction_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="scan-audit", cpus=8, shuffle_partitions=8)
    rows = sorted(audit(spark, sf_dir, sys.argv[1:] or None).items(), key=lambda kv: -kv[1][0])
    print(f"{'query':24} {'parquet':>8} {'ckpt_rdd':>9} {'python':>7}")
    for name, (scans, rdd, mip) in rows:
        print(f"{name:24} {scans:>8} {rdd:>9} {mip:>7}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
