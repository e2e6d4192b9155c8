"""Stage orchestration: per-stage parquet checkpoints, manifests, resume,
lineage + metrics (north_rule: "checkpointed per stage with per-partition
lineage and metrics for resumable execution").

``KgPipeline`` runs each stage through ``store.stage``: the output lands as
parquet under ``workdir/stage=<name>/`` with ``_stage``/``_part_id``
lineage, and the manifest lives inside that dir as ``_manifest.json``,
recording the rows the writing job observed, the wall time, the stage's
fingerprint (sf_dir, policy, package source, upstream fingerprint) and the
schema the stage is read back with. ``run`` skips a stage whose manifest
records the current fingerprint, reading it back with no Spark job;
resuming a killed job re-executes only unfinished stages, and a rebuild
killed before its manifest landed is rebuilt, never served.

``skeleton_triples`` and ``text_triples`` are the stage A-D chains, one per
input shape; every extraction job builds its triples through one of them.

Skew handling: web corpora are host-skewed (the synthetic corpus plants 20%
of pages on one host). ``salted_host_counts`` shows the two-phase pattern
used before any per-host grouped stage: salt → partial agg → final agg.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus, store
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
    """Stages A-F as ``store.stage`` checkpoints under ``workdir``:
    ``text`` → ``triples`` → ``linking_map`` → ``canonical``."""

    def __init__(self, spark: SparkSession, sf_dir: str, workdir: str, policy: str = "rl"):
        self.spark = spark
        self.sf_dir = sf_dir
        self.workdir = workdir
        self.policy = policy

    def fingerprints(self) -> dict[str, str]:
        """Each stage's fingerprint: stage + sf_dir + policy + package source
        + the UPSTREAM stage's fingerprint, so a config or code change
        invalidates everything downstream."""
        fps, fp = {}, ""
        for name in STAGES:
            fp = fps[name] = store.fingerprint(name, self.sf_dir, self.policy, fp)
        return fps

    def run(self, resume: bool = True) -> DataFrame:
        fps = self.fingerprints()

        def stage(name, build, partition_by=()):
            path = os.path.join(self.workdir, f"stage={name}")
            return store.stage(path, fps[name], build, partition_by, resume)

        txt = stage(
            "text",
            lambda: corpus.web_pages(self.spark, self.sf_dir, with_text=True, emit_html=False),
        )
        triples = stage(
            "triples", lambda: text_triples(txt.drop(*store.LINEAGE), self.policy)
        )
        mapping = stage(
            "linking_map",
            lambda: linking.canonical_mapping(
                linking.mention_vocab(triples.drop(*store.LINEAGE))
            ),
        )
        return stage(
            "canonical",
            lambda: linking.canonical_triples(
                triples.drop(*store.LINEAGE), mapping.drop(*store.LINEAGE)
            ),
            partition_by=["pred"],  # stage G: query-pruned triple layout
        )

    def metrics(self) -> list[dict]:
        """The manifests of the written stages, each with its stage name and
        without its schema."""
        return [
            {"stage": name, **{k: v for k, v in m.items() if k != "schema"}}
            for name in STAGES
            if (m := store.manifest(os.path.join(self.workdir, f"stage={name}")))
        ]
