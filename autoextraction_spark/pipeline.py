"""Stage orchestration: per-stage parquet checkpoints, manifests, resume,
lineage + metrics (north_rule: "checkpointed per stage with per-partition
lineage and metrics for resumable execution").

Each stage writes its output as parquet under ``workdir/stage=<name>/`` and
``workdir/manifest_<name>.json`` recording rows out, partition count, wall
time, sf_dir, policy and the config fingerprint. ``run`` skips stages whose
manifest + _SUCCESS marker exist with a matching fingerprint — resuming a
killed job re-executes only unfinished stages.
(Iceberg snapshots would subsume this; the catalog jar is absent in this
container, so the layout is plain partitioned parquet with the same
semantics and a one-line swap point in ``_write``/``_read``.)

``skeleton_triples`` and ``text_triples`` are the stage A-D chains, one per
input shape; every extraction job builds its triples through one of them.

Skew handling: web corpora are host-skewed (the synthetic corpus plants 20%
of pages on one host). ``salted_host_counts`` shows the two-phase pattern
used before any per-host grouped stage: salt → partial agg → final agg.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
from importlib import resources

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus
from .operators import detect, linking, output, slot_fill

STAGES = ["text", "triples", "linking_map", "canonical"]


def host_col(url: str = "url") -> F.Column:
    return F.regexp_extract(F.col(url), r"https://([^/]+)/", 1)


def salted_host_counts(pages: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Two-phase (salted) aggregation over the skewed host key.

    Phase 1 groups by (host, salt) — the hot host's rows spread over
    ``salt_buckets`` reducers; phase 2 sums the tiny partials. Same answer,
    no straggler.
    """
    salted = pages.withColumn("host", host_col()).withColumn(
        "salt", F.pmod(F.hash("url"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("host", "salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("host").agg(F.sum("c").cast("long").alias("n_pages"))


def canonical_url(url: F.Column) -> F.Column:
    """Canonical form of a crawl URL — the normalization that precedes
    URL-level dedup (the first dedup pass of CCNet/C4-class pipelines,
    before any content hashing): strip fragment, strip utm_* tracking
    params (re-anchoring an orphaned '&' to '?'), strip a dangling '?',
    strip default :80/:443 ports, lowercase the scheme+host (paths stay
    case-sensitive), strip a trailing slash. Fixed rule order; every rule
    is in the RE2∩Java regex subset (no backrefs in patterns, no
    lookaround) so the DuckDB oracle applies the identical chain. Pure
    codegen — no UDF."""
    u = F.regexp_replace(url, "#.*$", "")
    u = F.regexp_replace(u, "[?&]utm_[^&]*", "")
    u = F.regexp_replace(u, "^([^?&]*)&", "$1?")
    u = F.regexp_replace(u, "\\?$", "")
    u = F.regexp_replace(u, "^(https?://[^/:]+):(?:80|443)([/?]|$)", "$1$2")
    head = F.lower(F.regexp_extract(u, "^(https?://[^/]+)", 1))
    rest = F.regexp_replace(u, "^https?://[^/]+", "")
    u = F.when(head == "", u).otherwise(F.concat(head, rest))
    return F.regexp_replace(u, "/$", "")


def url_dedup(pages: DataFrame, url: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: one row per input page with its canonical URL and
    a ``keep`` flag — true only for the lowest-``id_col`` page of each
    canonical URL (re-crawls, tracking-tagged shares, and http/https+port
    variants of the same resource collapse).

    Scale shape: winner per canonical URL is a groupBy(min) — map-side
    combinable, so a hot URL recrawled 10^6 times partial-aggregates
    before the shuffle — and the join-back probes the same key
    (AQE-splittable). Page bodies never enter the shuffle; only
    (canonical, id) pairs move."""
    withc = pages.select(
        F.col(id_col), F.col(url), canonical_url(F.col(url)).alias("url_canonical")
    )
    winners = withc.groupBy("url_canonical").agg(F.min(id_col).alias("_w"))
    return (
        withc.join(winners, "url_canonical")
        .select(
            id_col,
            url,
            "url_canonical",
            (F.col(id_col) == F.col("_w")).alias("keep"),
        )
    )


def incremental_delta(new_triples: DataFrame, kg_snapshot: DataFrame) -> DataFrame:
    """Incremental KG maintenance: triples extracted from a NEW crawl batch
    that are novel w.r.t. the existing KG snapshot — the per-crawl merge step
    of a continuously-updated graph (extract from new pages only, emit only
    facts the graph doesn't already hold; the writer appends them).

    ONE left_anti equi-join keyed on the full fact (pred, subj, obj) — the
    100 TB shape: the new batch is a day's crawl (small relative to the KG),
    the snapshot side is a bucketed/partitioned table, and novelty never
    compares URLs or bodies. The snapshot side is pruned to the join key
    before the shuffle so historical url/provenance columns stay unread
    (column pruning reaches the snapshot scan).
    """
    key = ["pred", "subj", "obj"]
    # re-select the input's column order: a list-key join moves the key
    # columns to the front, and downstream writers (the streaming fact
    # store) must emit a stable schema across fresh/retry code paths
    return new_triples.join(
        kg_snapshot.select(*key).distinct(), key, "left_anti"
    ).select(*new_triples.columns)


def _digest_tree(node, h, prefix: str = "") -> None:
    for child in sorted(node.iterdir(), key=lambda c: c.name):
        path = f"{prefix}/{child.name}"
        if child.is_dir():
            _digest_tree(child, h, path)
        elif child.name.endswith(".py"):
            h.update(path.encode() + b"\0" + child.read_bytes())


@functools.cache
def _source_digest() -> str:
    """Digest of every ``.py`` source of this package, computed once per
    process — the code-version component of ``KgPipeline._fingerprint``.
    Read through ``importlib.resources`` so a ``--py-files`` zip digests
    the same as the source tree it was built from."""
    h = hashlib.md5()
    _digest_tree(resources.files(__package__), h)
    return h.hexdigest()


def skeleton_triples(skel: DataFrame, policy: str = "rl") -> DataFrame:
    """Stages A-D over the (doc_id, lang) skeleton in one python hop
    (``slot_fill.episodes_from_skeleton``) → distinct (url, pred, subj,
    obj). Doc ids are unique, so each (url, rel) has one episode tree and
    the in-pass assignment dedup makes the triples unique without the
    ``distinct()`` shuffle."""
    completed = slot_fill.episodes_from_skeleton(skel, policy, dedup_assignments=True)
    return output.to_triples(output.completed_filter(completed), assume_unique=True)


def text_triples(text: DataFrame, policy: str = "rl") -> DataFrame:
    """Stages B-D over extracted (url, text, lang) pages: detection gate →
    ordered slot filling → distinct (url, pred, subj, obj). Keeps the
    ``distinct()``: the input may repeat a url (a stream micro-batch, a
    re-landed page), so set semantics cannot come from the episode pass."""
    completed = slot_fill.ordered_slot_fill(
        detect.detect_relations(text), policy, dedup_assignments=True
    )
    return output.to_triples(output.completed_filter(completed))


class KgPipeline:
    """Stages A-F with checkpoint/resume + manifest metrics:
    ``text`` → ``triples`` → ``linking_map`` → ``canonical``."""

    def __init__(self, spark: SparkSession, sf_dir: str, workdir: str, policy: str = "rl"):
        self.spark = spark
        self.sf_dir = sf_dir
        self.workdir = workdir
        self.policy = policy
        os.makedirs(workdir, exist_ok=True)

    # -- checkpoint plumbing -------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage={stage}")

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"manifest_{stage}.json")

    def _fingerprint(self, stage: str, upstream_fp: str) -> str:
        """Config fingerprint: stage + sf_dir + policy + package source
        digest + the UPSTREAM stage's fingerprint, so a config or code
        change invalidates everything downstream."""
        return hashlib.md5(
            f"{stage}|{self.sf_dir}|{self.policy}|{_source_digest()}|{upstream_fp}".encode()
        ).hexdigest()

    def is_done(self, stage: str, fingerprint: str | None = None) -> bool:
        """Stage is resumable iff manifest + _SUCCESS exist AND the recorded
        fingerprint matches the current config and code — resume against a
        workdir built from a different corpus/policy/package source rebuilds
        instead of silently returning stale outputs (ADVICE.md)."""
        if not (
            os.path.exists(self._manifest_path(stage))
            and os.path.exists(os.path.join(self._dir(stage), "_SUCCESS"))
        ):
            return False
        if fingerprint is None:
            return True
        with open(self._manifest_path(stage)) as f:
            return json.load(f).get("fingerprint") == fingerprint

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(stage))

    def _write(self, stage: str, df: DataFrame, fingerprint: str = "",
               partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        lineage = df.withColumn("_stage", F.lit(stage)).withColumn(
            "_part_id", F.spark_partition_id()
        )
        writer = lineage.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._dir(stage))
        out = self._read(stage)
        rows = out.count()
        n_parts = out.rdd.getNumPartitions()
        manifest = {
            "stage": stage,
            "rows": rows,
            "partitions": n_parts,
            "wall_sec": round(time.time() - t0, 2),
            "sf_dir": self.sf_dir,
            "policy": self.policy,
            "fingerprint": fingerprint,
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f)
        return out

    def _stage(self, name: str, build, resume: bool, fp: str, partition_by=None) -> DataFrame:
        if resume and self.is_done(name, fp):
            return self._read(name)
        return self._write(name, build(), fp, partition_by)

    # -- stages ---------------------------------------------------------------
    def run(self, resume: bool = True) -> DataFrame:
        fp = self._fingerprint("text", "")
        txt = self._stage(
            "text",
            lambda: corpus.web_pages(
                self.spark, self.sf_dir, with_text=True, emit_html=False
            ),
            resume,
            fp,
        )
        fp = self._fingerprint("triples", fp)
        triples = self._stage(
            "triples",
            lambda: text_triples(txt.drop("_stage", "_part_id"), self.policy),
            resume,
            fp,
        )
        map_fp = self._fingerprint("linking_map", fp)
        mapping = self._stage(
            "linking_map",
            lambda: linking.canonical_mapping(
                linking.mention_vocab(triples.drop("_stage", "_part_id"))
            ),
            resume,
            map_fp,
        )
        canonical = self._stage(
            "canonical",
            lambda: linking.canonical_triples(
                triples.drop("_stage", "_part_id"),
                mapping.drop("_stage", "_part_id"),
            ),
            resume,
            self._fingerprint("canonical", map_fp),
            partition_by=["pred"],  # stage G: query-pruned triple layout
        )
        return canonical

    def metrics(self) -> list[dict]:
        out = []
        for s in STAGES:
            p = self._manifest_path(s)
            if os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return out
