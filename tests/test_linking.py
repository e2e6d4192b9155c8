"""Stage E entity linking: token-prefix blocking + precise variant verification."""

import pytest
from pyspark.sql import functions as F

from autoextraction_spark import corpus
from autoextraction_spark.operators import linking


def test_variant_pair_predicate(spark):
    cases = [
        ("Acme Corp", "Acme Corporation", True),
        ("Obsidian Corp", "Meridian Corp", False),   # near in char-3-gram space
        ("Gatewood Corp", "Gatewood Labs", False),
        ("Elena Okafor", "Olga Okafor", False),
        ("Acme Corp", "Acme Corp Intl", False),      # token-count mismatch
        ("Inter Widgets", "International Widgets", True),  # char-prefix abbreviation
        ("Intl Widgets", "International Widgets", False),  # contraction: not a prefix
    ]
    df = spark.createDataFrame(cases, "a string, b string, expect boolean")
    got = df.select("a", "b", "expect", linking.is_variant_pair(F.col("a"), F.col("b")).alias("v")).collect()
    for r in got:
        assert r.v == r.expect, (r.a, r.b)


def test_canonical_mapping_exact(spark, sf_dir):
    trip = corpus.gold_triples(spark, sf_dir)
    mapping = linking.canonical_mapping(linking.mention_vocab(trip))
    changed = {
        (r.mention, r.canonical)
        for r in mapping.filter(F.col("mention") != F.col("canonical")).collect()
    }
    assert changed  # variants were planted
    for mention, canonical in changed:
        assert mention.endswith(" Corporation")
        assert canonical == mention.replace(" Corporation", " Corp")


def test_canonical_triples_match_gold(spark, sf_dir):
    trip = corpus.gold_triples(spark, sf_dir)
    canon = linking.canonical_triples(trip)
    gold = corpus.gold_triples(spark, sf_dir, canonical=True)
    assert canon.exceptAll(gold).isEmpty()
    assert gold.exceptAll(canon).isEmpty()


def test_type_blocking_prevents_cross_type_links(spark):
    trip = spark.createDataFrame(
        [
            ("u1", "works_for", "Acme Stone", "Acme Corp"),
            ("u2", "works_for", "Acme Stone", "Acme Corporation"),
        ],
        "url string, pred string, subj string, obj string",
    )
    mapping = linking.canonical_mapping(linking.mention_vocab(trip))
    rows = {(r.ent_type, r.mention): r.canonical for r in mapping.collect()}
    # person 'Acme Stone' must NOT link to org 'Acme Corp*'
    assert rows[("person", "Acme Stone")] == "Acme Stone"
    assert rows[("org", "Acme Corporation")] == "Acme Corp"


def test_driver_mapping_equals_distributed(spark):
    """The r6 driver fast path of canonical_mapping (collect → python
    block/verify/union-find) emits exactly the distributed blocked-join +
    CC chain's mapping."""
    import autoextraction_spark.operators.linking as L

    rows = [
        ("org", "Acme Corp"),
        ("org", "Acme Corporation"),
        ("org", "Meridian Systems"),
        ("org", "Obsidian Corp"),
        ("person", "Alice Stone"),
        ("person", "Ali Stone"),   # 'Ali' is a ≥3-char prefix of 'Alice'
        ("org", "acme corp"),      # case variant, same block
    ]
    mentions = spark.createDataFrame(rows, "ent_type string, mention string")
    fast = L.canonical_mapping(mentions)
    slow_bytes = L._DRIVER_MAP_MAX_BYTES
    try:
        L._DRIVER_MAP_MAX_BYTES = 0  # force the distributed path
        slow = L.canonical_mapping(mentions)
        key = lambda r: (r.ent_type, r.mention, r.canonical)
        assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))
    finally:
        L._DRIVER_MAP_MAX_BYTES = slow_bytes


def test_canonical_mapping_blocker_option(spark):
    """``blocker="prefix"`` forces the distributed path with the same
    mapping as the size-chosen driver path; any other blocker raises."""
    rows = [("org", "Acme Corp"), ("org", "Acme Corporation"), ("person", "Ali Stone")]
    mentions = spark.createDataFrame(rows, "ent_type string, mention string")
    key = lambda r: (r.ent_type, r.mention, r.canonical)
    auto = sorted(map(key, linking.canonical_mapping(mentions).collect()))
    forced = linking.canonical_mapping(mentions, blocker="prefix")
    # the driver path is one local relation; the distributed one
    # joins the vocabulary to its components
    assert "Join" in forced._jdf.queryExecution().analyzed().toString()
    assert sorted(map(key, forced.collect())) == auto
    for bad in ("lsh", "prefx"):
        with pytest.raises(ValueError, match="blocker"):
            linking.canonical_mapping(mentions, blocker=bad)


@pytest.mark.parametrize("blocker", [None, "prefix"])  # driver and distributed
def test_null_mention_is_its_own_canonical(spark, blocker):
    rows = [("org", "Acme Corp"), ("org", None), ("org", "Acme Corporation")]
    mentions = spark.createDataFrame(rows, "ent_type string, mention string")
    got = linking.canonical_mapping(mentions, blocker=blocker).collect()
    assert sorted(map(tuple, got), key=repr) == [
        ("org", "Acme Corp", "Acme Corp"),
        ("org", "Acme Corporation", "Acme Corp"),
        ("org", None, None),
    ]
