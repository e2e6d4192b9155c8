"""Stage E — entity linking: exhaustive token-prefix blocking over the typed
mention vocabulary, a precise abbreviation-variant verifier, and
connected-components canonicalization (north_rule stages E+F composed).

Flow (one small shuffle chain over the MENTION vocabulary — orders of
magnitude smaller than the corpus):

    triples ──> typed mention vocab (subj ∪ obj, tagged with entity type)
            ──> block on (ent_type, per-token 3-char prefixes)
            ──> is_variant_pair verify within each block ──> variant edges
            ──> connected components ──> mention → canonical mapping
            ──> triples rewritten through the mapping (two broadcast joins)

A vocabulary that fits the driver runs block → verify → union-find in one
collect (``canonical_mapping``); a larger one runs the same chain as
distributed joins. Entity types come from the relation schema (a broadcast
dimension), so people never link to orgs even when surface-similar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..materialize import ckpt, ckpt_stats, co_key_pairs, local_table
from .canonicalize import _min_labels, connected_components

MIN_ABBREV_LEN = 3


def rel_types(spark: SparkSession) -> DataFrame:
    """The (pred, subj_type, obj_type) relation-schema dimension."""
    return local_table(spark, S.RELATIONS, "pred string, subj_type string, obj_type string")


def mention_vocab(triples: DataFrame) -> DataFrame:
    """Distinct (mention, ent_type) across subject and object positions."""
    types = F.broadcast(rel_types(triples.sparkSession))
    t = triples.join(types, "pred")
    subj = t.select(F.col("subj").alias("mention"), F.col("subj_type").alias("ent_type"))
    obj = t.select(F.col("obj").alias("mention"), F.col("obj_type").alias("ent_type"))
    return subj.union(obj).distinct()


def is_variant_pair(a: Column, b: Column) -> Column:
    """Precise verifier: same token count and every aligned token pair is
    equal or an abbreviation-prefix (≥3 chars) of the other —
    'Acme Corp' ~ 'Acme Corporation', but NOT 'Obsidian Corp' ~
    'Meridian Corp' (char-n-gram Jaccard alone cannot separate those:
    J('acme corp','acme corporation') = 0.50 < J('obsidian corp',
    'meridian corp') = 0.57, so a threshold verifier is unsound here)."""
    ta, tb = F.split(F.lower(a), " "), F.split(F.lower(b), " ")
    tok_ok = F.forall(
        F.zip_with(
            ta,
            tb,
            lambda x, y: (x == y)
            | ((F.length(x) >= MIN_ABBREV_LEN) & y.startswith(x))
            | ((F.length(y) >= MIN_ABBREV_LEN) & x.startswith(y)),
        ),
        lambda ok: ok,
    )
    return (F.size(ta) == F.size(tb)) & tok_ok


def prefix_block_key(mention: Column) -> Column:
    """Blocking key that is provably EXHAUSTIVE for ``is_variant_pair``:
    the space-joined first-``MIN_ABBREV_LEN`` chars of each lowercased token.
    Any pair the verifier accepts has equal token counts and every aligned
    token pair equal or prefix-related with the shorter ≥3 chars — either
    way the first 3 chars agree, so both mentions share this key."""
    toks = F.split(F.lower(mention), " ")
    return F.concat_ws(" ", F.transform(toks, lambda t: F.substring(t, 1, MIN_ABBREV_LEN)))


def variant_edges(mentions: DataFrame) -> DataFrame:
    """(src, dst) edges between surface variants of the same entity.

    Candidate BLOCKING is ``co_key_pairs`` on ``prefix_block_key`` +
    ent_type — never all-pairs over a web-scale mention vocabulary, and
    exhaustive for the ``is_variant_pair`` verifier (zero recall loss, see
    the key's docstring): a block only holds mentions agreeing on EVERY
    token's 3-char prefix. The mentions ride the join as its payload, so
    the verifier needs no lookups.
    """
    blocked = mentions.select(
        F.concat_ws("\x1f", "ent_type", "mention").alias("id"),
        "ent_type",
        prefix_block_key(F.col("mention")).alias("blk"),
        "mention",
    )
    return (
        co_key_pairs(blocked, "id", ["ent_type", "blk"])
        .filter(is_variant_pair(F.col("mention_a"), F.col("mention_b")))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


#: Driver fast-path bounds for canonical_mapping: the vocab must fit in
#: this many estimated driver bytes AND the blocked pair budget (Σ over
#: buckets of |bucket|²) must stay below _DRIVER_MAP_MAX_PAIRS. A
#: pathologically hot block falls back to ``variant_edges``' uncapped
#: ``co_key_pairs`` self-join: the same pairs, at Σ|block|² join rows that
#: AQE spreads over tasks but does not bound (``co_key_pairs``' giant-block
#: contract).
_DRIVER_MAP_MAX_BYTES = 16 * 2**20
_DRIVER_MAP_MAX_PAIRS = 2_000_000
#: CPython object overhead per vocab row (str headers + tuple/dict slots).
_DRIVER_MAP_ROW_OVERHEAD = 240


def _variant_pair_py(a: str, b: str) -> bool:
    """Python replica of ``is_variant_pair`` (token counts equal, every
    aligned pair equal or ≥3-char prefix-related). split(' ')/lower()/
    startswith match Spark's literal-space split, UTF8 lower and prefix
    semantics on this vocab; equivalence is pinned by tests and the oracle."""
    ta, tb = a.lower().split(" "), b.lower().split(" ")
    if len(ta) != len(tb):
        return False
    for x, y in zip(ta, tb):
        if x == y:
            continue
        if len(x) >= MIN_ABBREV_LEN and y.startswith(x):
            continue
        if len(y) >= MIN_ABBREV_LEN and x.startswith(y):
            continue
        return False
    return True


def _prefix_block(mention: str) -> str:
    """Block key of a mention: its tokens' 3-char lowercase prefixes."""
    return " ".join(t[:MIN_ABBREV_LEN] for t in mention.lower().split(" "))


def _driver_canonical_mapping(rows: list) -> list:
    """Exact (ent_type, mention, canonical) rows at the driver: prefix-block
    (provably exhaustive for the verifier), verify within buckets,
    union-find, min-mention label. Components cannot span buckets — the
    block key is a function of the mention alone, so every verified pair
    shares it — so the smallest ``(ent_type, mention)`` node of a component
    carries its smallest mention. A NULL mention joins no bucket and is its
    own canonical, as on the distributed path. Returns None never; caller
    guards the pair budget."""
    from collections import defaultdict

    buckets: dict = defaultdict(list)
    for ent_type, mention in rows:
        if mention is not None:
            buckets[(ent_type, _prefix_block(mention))].append(mention)

    pairs = (
        ((et, ms[i]), (et, ms[j]))
        for (et, _), ms in buckets.items()
        for i in range(len(ms))
        for j in range(i + 1, len(ms))
        if _variant_pair_py(ms[i], ms[j])
    )
    labels = _min_labels(rows, pairs)
    return [(et, m, labels[(et, m)][1]) for et, m in rows]


def canonical_mapping(mentions: DataFrame, blocker: str | None = None) -> DataFrame:
    """(ent_type, mention, canonical) — canonical = lexicographically
    smallest variant in the connected component; identity for singletons.

    ``blocker``: ``None`` chooses the driver or distributed path from the
    measured vocabulary size (below); ``"prefix"`` forces the distributed
    prefix-blocked path; any other value raises ``ValueError``.

    Hybrid execution (r6, the connected_components union-find precedent
    extended one stage up): the mention vocabulary is materialized once, and
    that checkpoint job also observes its size; when its estimated driver
    footprint fits ``_DRIVER_MAP_MAX_BYTES`` AND the blocked pair budget is
    bounded, the whole block → verify → CC → min-label chain runs at the
    driver in one collect (2 driver jobs total vs ~12 for the distributed
    chain — pure scheduling latency when the vocab is model-sized). Above
    either bound the distributed blocked-join + star-contraction path runs
    unchanged. Identical output by construction (cross-checked in tests and
    by the oracle)."""
    if blocker not in (None, "prefix"):
        raise ValueError(f"unknown blocker {blocker!r}: expected None or 'prefix'")
    # materialize the vocab ONCE: it is scanned twice inside the
    # blocked-join plan (the a/b sides), again by the CC
    # node/edge checkpoints, and once more by the final left join — without
    # this every scan re-runs the upstream distinct over the triple table
    # (profiled at sf0.1: ~3.5s of pure recomputation on a 161-row vocab)
    avg_bytes = F.avg(F.length("mention") + F.length("ent_type"))
    mentions, stats = ckpt_stats(
        mentions,
        None,
        [F.count(F.lit(1)).alias("n"), F.coalesce(avg_bytes, F.lit(0.0)).alias("avg_bytes")],
    )
    est_bytes = stats["n"] * (stats["avg_bytes"] + _DRIVER_MAP_ROW_OVERHEAD)
    if blocker is None and est_bytes <= _DRIVER_MAP_MAX_BYTES:
        rows = [(r["ent_type"], r["mention"]) for r in mentions.collect()]
        from collections import Counter

        blk_sizes = Counter((et, _prefix_block(m)) for et, m in rows if m is not None)
        if sum(c * c for c in blk_sizes.values()) <= _DRIVER_MAP_MAX_PAIRS:
            return local_table(
                mentions.sparkSession,
                _driver_canonical_mapping(rows),
                "ent_type string, mention string, canonical string",
            )
    edges = variant_edges(mentions)
    # check_every=2: a round whose edge count did not change pays one
    # exceptAll job; testing every other round halves those at the cost of
    # at most one extra round
    cc = connected_components(edges, check_every=2)
    keyed = mentions.select(
        F.concat_ws("\x1f", "ent_type", "mention").alias("node"), "ent_type", "mention"
    )
    return (
        keyed.join(cc, "node", "left")
        .select(
            "ent_type",
            "mention",
            F.coalesce(
                F.element_at(F.split(F.col("component"), "\x1f", 2), 2),
                F.col("mention"),
            ).alias("canonical"),
        )
    )


def canonical_triples(triples: DataFrame, mapping: DataFrame | None = None) -> DataFrame:
    """Rewrite (subj, obj) through the canonical mapping; distinct output.

    The mapping is a mention-vocabulary-sized table — broadcast both joins;
    the big triple table is never shuffled.
    """
    if mapping is None:
        # triples feed the vocab AND the rewrite — materialize once instead
        # of recomputing the upstream pipeline twice; same for the mapping
        # (vocabulary-sized), whose plan would otherwise re-run per
        # broadcast build below
        triples = ckpt(triples, eager=True, level=None)
        mapping = ckpt(
            canonical_mapping(mention_vocab(triples)), eager=True, level=None
        )
    types = F.broadcast(rel_types(triples.sparkSession))
    m = F.broadcast(mapping)
    t = triples.join(types, "pred")
    t = (
        t.join(
            m.withColumnsRenamed(
                {"ent_type": "subj_type", "mention": "subj", "canonical": "subj_canon"}
            ),
            ["subj_type", "subj"],
            "left",
        )
        .join(
            m.withColumnsRenamed(
                {"ent_type": "obj_type", "mention": "obj", "canonical": "obj_canon"}
            ),
            ["obj_type", "obj"],
            "left",
        )
    )
    return t.select(
        "url",
        "pred",
        F.coalesce("subj_canon", "subj").alias("subj"),
        F.coalesce("obj_canon", "obj").alias("obj"),
    ).distinct()
