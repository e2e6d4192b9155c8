"""Char-bag F1 (O7) and recency resolution."""

import math

from autoextraction_spark import metrics


def test_char_f1_reference_math():
    # utils.py:24-36: lowercase, strip spaces, char-multiset overlap
    assert metrics.char_f1("abc", "abc") == 1.0
    assert metrics.char_f1("abc", "xyz") == 0.0
    assert metrics.char_f1("A B C", "abc") == 1.0
    # 'ab' vs 'abb': overlap=2, p=1.0, r=2/3 -> f1 = 0.8
    assert math.isclose(metrics.char_f1("ab", "abb"), 0.8)


def test_char_f1_udf(spark):
    df = spark.createDataFrame([("ab", "abb")], "p string, g string")
    got = df.select(metrics.char_f1_udf("p", "g").alias("f1")).collect()[0].f1
    assert math.isclose(got, 0.8)


def test_resolve_by_recency_functional_predicate(spark):
    from autoextraction_spark.operators import output as out_ops

    triples = spark.createDataFrame(
        [
            # alice born_in asserted by docs 3 (older) and 10 (newer)
            ("https://site3.example.com/page/3", "born_in", "alice", "rome"),
            ("https://site0.example.com/page/10", "born_in", "alice", "oslo"),
            # bob: single assertion passes through
            ("https://site1.example.com/page/1", "born_in", "bob", "cairo"),
            # non-selected predicate filtered out
            ("https://site1.example.com/page/1", "works_for", "bob", "acme"),
        ],
        "url string, pred string, subj string, obj string",
    )
    got = {
        (r.subj, r.pred): r.obj
        for r in out_ops.resolve_by_recency(triples, preds=["born_in"]).collect()
    }
    # doc 10's recency key (10%365)*86400 + 70%86400 beats doc 3's
    assert got == {("alice", "born_in"): "oslo", ("bob", "born_in"): "cairo"}


def test_resolve_by_recency_tie_breaks_max_obj(spark):
    from autoextraction_spark.operators import output as out_ops

    triples = spark.createDataFrame(
        [
            # same doc asserts two objects for the same (subj, pred): equal
            # recency keys -> max obj wins deterministically
            ("https://site2.example.com/page/2", "born_in", "alice", "rome"),
            ("https://site2.example.com/page/2", "born_in", "alice", "zagreb"),
        ],
        "url string, pred string, subj string, obj string",
    )
    got = out_ops.resolve_by_recency(triples, preds=["born_in"]).collect()
    assert [(r.subj, r.obj) for r in got] == [("alice", "zagreb")]
