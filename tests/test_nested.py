"""P2 nested-spo flattening and P4/P5 permutation expansion (nested.py)."""

import math

from autoextraction_spark.operators import nested

SPO_DDL = (
    "spo struct<predicate string, subject string, subject_type string, "
    "object map<string,string>, object_type map<string,string>>"
)


def test_flatten_spo_composes_roles_and_fills_none(spark):
    rows = [
        (
            (
                "获奖",
                "王伟",
                "人物",
                {"@value": "金像奖", "inWork": ""},
                {"@value": "奖项", "inWork": "作品"},
            ),
        ),
    ]
    df = spark.createDataFrame(rows, SPO_DDL)
    got = nested.flatten_spo(df).select("assigned").collect()[0].assigned
    # duie.py:38-67: composed keys, empty string -> '[None]'
    assert dict(got) == {
        "头实体-人物": "王伟",
        "尾实体-奖项": "金像奖",
        "尾实体-作品": "[None]",
    }


def test_flatten_spo_empty_subject(spark):
    rows = [(("r", "", "人物", {"@value": "x"}, {"@value": "城市"}),)]
    df = spark.createDataFrame(rows, SPO_DDL)
    got = dict(nested.flatten_spo(df).collect()[0].assigned)
    assert got["头实体-人物"] == "[None]"


def test_perm_dimension_full_and_sampled():
    rows = nested.perm_dimension([2, 3, 5])
    by_arity = {}
    for k, _, order in rows:
        by_arity.setdefault(k, []).append(order)
    assert len(by_arity[2]) == 2
    assert len(by_arity[3]) == math.factorial(3)
    # P5 (duee_fin.py:86-100): >=5 slots -> 10 sampled orders, deterministic
    assert len(by_arity[5]) == 10
    assert by_arity[5] == [o for _, _, o in nested.perm_dimension([5])]
    for order in by_arity[5]:
        assert sorted(order) == list(range(5))


def test_permutation_examples_grammar_and_dedup(spark):
    df = spark.createDataFrame(
        [("t1", "获奖", ["人物", "奖项"], {"人物": "王伟", "奖项": "金像奖"})],
        "text string, rel string, slots array<string>, assigned map<string,string>",
    )
    got = {
        (r.cond, r.text): list(r.labels)
        for r in nested.permutation_examples(df).collect()
    }
    # 2 perms x 2 prefixes = 4 raw examples, deduped to 4 distinct conds
    assert got == {
        ("获奖； 人物：", "t1"): ["王伟"],
        ("获奖； 奖项：", "t1"): ["金像奖"],
        ("获奖； 人物：王伟； 奖项：", "t1"): ["金像奖"],
        ("获奖； 奖项：金像奖； 人物：", "t1"): ["王伟"],
    }


def test_truncate_cond_matches_reference_loop(spark):
    # behavioral parity with duee_fin.py:92-94's while-loop (regex tokens
    # standing in for the HF tokenizer)
    import re

    from autoextraction_spark.operators.textstats import BPE_TOKEN_RE

    tok = re.compile(BPE_TOKEN_RE)

    def ref_loop(cond, text, budget):
        while len(tok.findall(cond)) + len(tok.findall(text)) + 3 > budget and "；" in cond:
            cond = "；".join(cond.split("；")[:-1])
        return cond

    rows = [
        ("ev；a：one two three；b：four five；c：", "some document text here", 18),
        ("ev；a：one two three；b：four five；c：", "some document text here", 12),
        ("ev；a：one two three；b：four five；c：", "some document text here", 99),
        ("ev；a：x；b：y", "t", 6),
    ]
    df = spark.createDataFrame(
        [(c, t) for c, t, _ in rows], "cond string, text string"
    )
    for (cond, text, budget) in rows:
        got = (
            nested.truncate_cond(
                spark.createDataFrame([(cond, text)], "cond string, text string"),
                budget=budget,
            ).collect()[0].cond_trunc
        )
        assert got == ref_loop(cond, text, budget), (cond, budget)


def test_permutation_examples_none_fill_and_label_merge(spark):
    # missing slot -> '[None]' label (duie.py:96-101); two tuples sharing a
    # cond merge their labels into one set (P7, duee.py:92-102)
    df = spark.createDataFrame(
        [
            ("t", "r", ["a", "b"], {"a": "x"}),
            ("t", "r", ["a", "b"], {"a": "y", "b": "z"}),
        ],
        "text string, rel string, slots array<string>, assigned map<string,string>",
    )
    got = {r.cond: list(r.labels) for r in nested.permutation_examples(df).collect()}
    assert got["r； a："] == ["x", "y"]
    assert got["r； b："] == ["[None]", "z"]
    assert got["r； a：x； b："] == ["[None]"]
    assert got["r； b：z； a："] == ["y"]


def test_permutation_examples_raises_on_arity_overflow(spark):
    # ADVICE.md: >max_arity tuples must fail loudly, not vanish
    import pytest
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [("t", "r", list("abcdefg"), {})],
        "text string, rel string, slots array<string>, assigned map<string,string>",
    )
    with pytest.raises(PySparkException, match="exceeds max_arity"):
        nested.permutation_examples(df, max_arity=6).collect()
