"""The one on-disk format of every table the library writes itself.

Two table shapes, one manifest:

- ``stage(path, fingerprint, build, partition_by, resume)`` is a resumable
  checkpoint. ``build()``'s rows land as parquet under ``path`` with
  ``_stage`` (the dir's name) / ``_part_id`` lineage, and ``path/_manifest.json`` records the
  fingerprint of the code and config that built them, the schema a read
  returns, the rows the writing job observed and its wall time.
- ``write_epoch(df, path, epoch_id)`` is the exactly-once streaming sink: a
  dynamic-partition overwrite of ``path/_epoch=<epoch_id>``, so a retried
  epoch replaces its own partition, and the same ``_manifest.json`` beside
  the partitions records the schema.

The manifest lives INSIDE the table dir under a leading-``_`` name: Spark's
file index skips it, and the overwrite that rebuilds a stage deletes it with
the old rows before the new rows commit. A rebuild killed before its own
manifest lands therefore leaves a stage with no manifest, which every later
run rebuilds; rows are never served under a fingerprint that did not build
them. A missing, empty or truncated manifest reads as "not there".

``read`` reads a table back with the schema its manifest declares, so it
runs no footer-inference Spark job. ``run_available`` starts a
``foreachBatch`` stream that drains what has landed and stops.
(Iceberg snapshots would subsume this; the session ships no Iceberg
catalog jar, so this module is the one swap point.)
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable, Sequence
from importlib import resources

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructField, StructType

from . import materialize

MANIFEST = "_manifest.json"
LINEAGE = ("_stage", "_part_id")


def _digest_tree(node, h, prefix: str = "") -> None:
    for child in sorted(node.iterdir(), key=lambda c: c.name):
        path = f"{prefix}/{child.name}"
        if child.is_dir():
            _digest_tree(child, h, path)
        elif child.name.endswith(".py"):
            h.update(path.encode() + b"\0" + child.read_bytes())


@functools.cache
def source_digest() -> str:
    """Digest of every ``.py`` source of this package, computed once per
    process — the code-version component of every ``fingerprint``. Read
    through ``importlib.resources`` so a ``--py-files`` zip digests the same
    as the source tree it was built from."""
    h = hashlib.md5()
    _digest_tree(resources.files(__package__), h)
    return h.hexdigest()


def fingerprint(*parts) -> str:
    """Fingerprint of a build: ``parts`` (config, upstream fingerprints)
    plus the package source digest, so a config or code change gives a new
    value."""
    return hashlib.md5("|".join(map(str, (*parts, source_digest()))).encode()).hexdigest()


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON atomically: a reader sees the old file or the
    new one, never a torn write."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def manifest(path: str) -> dict | None:
    """The manifest of the table at ``path``; None when it is missing,
    empty or truncated."""
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return None


def record(path: str, **fields) -> None:
    """Add ``fields`` to the manifest of the table at ``path``."""
    write_json(os.path.join(path, MANIFEST), {**manifest(path), **fields})


def read(spark: SparkSession, path: str) -> DataFrame:
    """The table at ``path`` read with the schema its manifest declares, so
    building the read runs no Spark job."""
    m = manifest(path)
    if m is None:
        raise FileNotFoundError(f"{path}: no {MANIFEST}; not a table this library wrote")
    return spark.read.schema(StructType.fromJson(m["schema"])).parquet(path)


def _schema(df: DataFrame, partition_by: Sequence[str]) -> dict:
    """The schema a read of ``df`` written partitioned by ``partition_by``
    returns: every column nullable, the partition columns last."""
    cols = [f for f in df.schema if f.name not in partition_by]
    cols += [df.schema[c] for c in partition_by]
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in cols]).jsonValue()


def stage(
    path: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
    partition_by: Sequence[str] = (),
    resume: bool = True,
) -> DataFrame:
    """The table at ``path`` built by ``build()`` under ``fingerprint``:
    read back when its manifest records that fingerprint (and ``resume``),
    otherwise built, written with lineage and the write-observed row count,
    and read back. The manifest lands after the rows commit."""
    m = manifest(path) if resume else None
    if m is not None and m.get("fingerprint") == fingerprint:
        return read(SparkSession.active(), path)
    t0 = time.time()
    df = build().withColumn("_stage", F.lit(os.path.basename(os.path.normpath(path))))
    df, stats = materialize.observed(
        df.withColumn("_part_id", F.spark_partition_id()), [F.count(F.lit(1)).alias("rows")]
    )
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    write_json(os.path.join(path, MANIFEST), {
        "fingerprint": fingerprint, "schema": _schema(df, partition_by),
        "rows": stats()["rows"], "wall_sec": round(time.time() - t0, 2),
    })
    return read(SparkSession.active(), path)


def write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Idempotent per-epoch sink: ``foreachBatch`` re-runs a failed epoch
    with the SAME ``epoch_id``, and a blind append would re-append rows the
    failed attempt already wrote. A dynamic-partition overwrite of
    ``_epoch=<epoch_id>`` makes the retry REPLACE its own partition — this
    plus the streaming checkpoint makes the sink exactly-once."""
    df = df.withColumn("_epoch", F.lit(epoch_id))
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(path)
    )
    write_json(os.path.join(path, MANIFEST), {"schema": _schema(df, ["_epoch"])})


def retire_epochs(path: str, cutoff: int) -> None:
    """Delete the ``_epoch=<k>`` partitions of ``path`` with ``k <= cutoff``:
    partition dirs are the retention unit, one rmtree per retired epoch."""
    for p in glob.glob(os.path.join(path, "_epoch=*")):
        try:
            ep = int(p.rsplit("=", 1)[-1])
        except ValueError:
            continue
        if ep <= cutoff:
            shutil.rmtree(p, ignore_errors=True)


def run_available(
    stream: DataFrame, batch_fn: Callable[[DataFrame, int], None], ckpt_dir: str
) -> StreamingQuery:
    """Start ``batch_fn(batch_df, epoch_id)`` over every micro-batch of
    ``stream`` with its progress checkpointed in ``ckpt_dir``; the
    ``availableNow`` trigger drains what has landed, then stops (the
    catch-up trigger; a deployment swaps in processingTime)."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
