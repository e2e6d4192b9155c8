"""MinHash/LSH, SimHash, exact-dup machinery (dedup.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import dedup


def test_portable_hash_matches_duckdb(spark):
    vals = ["abc", "hello world", "王伟任职于华信集团。", ""]
    got = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", dedup.portable_hash64(F.col("s"), seed="#x").alias("h"))
        .collect()
    )
    for r in got:
        expect = duckdb.sql(
            "SELECT CAST(('0x' || substr(md5($1 || '#x'), 1, 15)) AS BIGINT)",
            params=[r.s],
        ).fetchone()[0]
        assert r.h == expect, r.s


def test_char_and_word_shingles(spark):
    df = spark.createDataFrame([("abcd", "a b c d")], "c string, w string")
    row = df.select(
        dedup.char_shingles(F.col("c"), 3).alias("cs"),
        dedup.word_shingles(F.col("w"), 3).alias("ws"),
    ).collect()[0]
    assert row.cs == ["abc", "bcd"]
    assert row.ws == ["a b c", "b c d"]
    # shorter than n -> whole string
    short = spark.createDataFrame([("ab",)], "c string")
    assert short.select(dedup.char_shingles(F.col("c"), 3).alias("cs")).collect()[0].cs == ["ab"]


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    near = "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"
    other = "completely different text about spark shuffles and partition skew handling"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dup_groups(dup_docs):
    groups = {r.keep_id: r.n_copies for r in dedup.exact_dup_groups(dup_docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1,2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_lsh_finds_near_dups(dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_dup_pairs(dup_docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(4 not in p for p in pairs)


def test_simhash_near_dups(dup_docs):
    sig = {r.id: r.simhash for r in dedup.simhash64(dup_docs, "doc_id", "text").collect()}
    assert sig[1] == sig[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_dup_pairs(dup_docs, "doc_id", "text", max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one-token difference stays within a few bits
    assert (1, 4) not in pairs


@pytest.mark.parametrize("name", ["body.text", "select", "we`ird"])
def test_simhash_column_name_is_quoted(dup_docs, name):
    """A dotted, keyword or backtick-bearing text column is read as that
    literal column, with the same signatures as under a plain name."""
    want = {r.id: r.simhash for r in dedup.simhash64(dup_docs, "doc_id", "text").collect()}
    renamed = dup_docs.withColumnRenamed("text", name)
    got = {r.id: r.simhash for r in dedup.simhash64(renamed, "doc_id", name).collect()}
    assert got == want


def test_prefix_filter_join_is_exact(spark):
    # the prefix-filter inverted index must find EVERY pair with J >= t —
    # cross-check against brute-force all-pairs on a pseudo-random corpus
    import itertools

    words = [f"w{i}" for i in range(30)]
    docs, x = [], 7
    for i in range(12):
        toks = []
        for j in range(10 + i % 5):
            x = (x * 48271) % 2147483647
            toks.append(words[x % len(words)])
        docs.append((i, " ".join(toks)))
        # planted near-dup: same doc with the last token changed
        docs.append((100 + i, " ".join(toks[:-1] + ["zz"])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.jaccard_dup_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }

    def shingles(t):
        toks = t.split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    expect = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.3:
            expect[(min(ia, ib), max(ia, ib))] = round(j, 9)
    assert got == expect and expect  # non-vacuous


def test_dedup_documents_transitive_clusters(spark):
    # A~B and B~C near-dup but A~C below threshold: all three must collapse
    # to ONE canonical survivor (cluster semantics, not pair semantics)
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    b = base.replace("w12", "x")          # ~0.82 vs base
    c = b.replace("w1 ", "y ")            # ~0.82 vs b, ~0.67 vs base
    docs = spark.createDataFrame(
        [(1, base), (2, b), (3, c), (4, "totally different text entirely here now")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.keep_id, r.is_canonical)
        for r in dedup.dedup_documents(
            docs, "doc_id", "text", method="jaccard", threshold=0.6
        ).collect()
    }
    assert out[1] == (1, 1) and out[2] == (1, 0) and out[3] == (1, 0)
    assert out[4] == (4, 1)


def test_exact_jaccard_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    sets = dedup.shingle_sets(docs, "doc_id", dedup.word_shingles(F.col("text"), 2))
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    j = dedup.exact_jaccard(pairs, sets).collect()[0]
    # shingles: {a b, b c, c d} vs {a b, b c, c e} -> 2/4
    assert j.jaccard == 0.5


def test_dedup_documents_simhash_rejects_threshold(dup_docs):
    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        dedup.dedup_documents(dup_docs, "doc_id", "text", method="simhash", threshold=0.8)


def test_exact_jaccard_length_filter_keeps_boundary(spark):
    # |A|=4, |B|=2, t=0.5: t*|A| = |B| exactly — the boundary pair must
    # survive the length filter (FP rounding may not drop it)
    sets = spark.createDataFrame(
        [(1, 4, ["a", "b", "c", "d"]), (2, 2, ["a", "b"]), (3, 1, ["x"])],
        "id long, n int, shs array<string>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.exact_jaccard(pairs, sets, threshold=0.5).collect()}
    assert got == {(1, 2): 0.5}  # (1,3) killed by the length filter


def test_paragraph_dedup_first_occurrence_wins(spark):
    rows = [
        (1, "boiler\nunique one\nboiler"),   # in-doc repeat: pos 0 wins
        (2, "boiler\nunique two"),           # cross-doc repeat: doc 1 won
        (3, "boiler"),                       # fully-boilerplate doc survives empty
    ]
    out = {
        r.doc_id: r
        for r in dedup.paragraph_dedup(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1].text_dedup == "boiler\nunique one"
    assert (out[1].n_lines, out[1].n_dropped) == (3, 1)
    assert out[2].text_dedup == "unique two"
    assert (out[2].n_lines, out[2].n_dropped) == (2, 1)
    assert out[3].text_dedup == ""
    assert (out[3].n_lines, out[3].n_dropped) == (1, 1)
    assert len(out) == 3  # every input doc present


def test_decontaminate_counts_and_flag(spark):
    train = spark.createDataFrame(
        [
            # 6 words -> 2 distinct 5-grams; first one matches the benchmark
            (1, "a b c d e f"),
            # no overlap at all
            (2, "x y z w v u"),
            # shorter than n: ONE whole-string gram, exact benchmark doc
            (3, "a b c"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e"), (10, "a b c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in dedup.decontaminate(train, bench, n=5, threshold=0.5).collect()
    }
    assert (out[1].n_grams, out[1].n_matched, out[1].contaminated) == (2, 1, 1)
    assert (out[2].n_grams, out[2].n_matched, out[2].contaminated) == (2, 0, 0)
    assert (out[3].n_grams, out[3].n_matched, out[3].contaminated) == (1, 1, 1)


def test_latest_by_key_struct_max(spark):
    from autoextraction_spark.operators.dedup import latest_by_key

    rows = [
        (1, "a", 10, 100, 1.0), (1, "a", 30, 101, 2.0), (1, "a", 20, 102, 3.0),
        (1, "b", 5, 103, 4.0),
        (2, "a", 30, 104, 5.0), (2, "a", 30, 105, 6.0),  # ts tie -> id 105
    ]
    df = spark.createDataFrame(
        rows, "k long, t string, ts long, eid long, v double"
    )
    out = {(r["k"], r["t"]): (r["ts"], r["eid"], r["v"])
           for r in latest_by_key(df, ["k", "t"], "ts", "eid", ["v"]).collect()}
    assert out == {(1, "a"): (30, 101, 2.0), (1, "b"): (5, 103, 4.0),
                   (2, "a"): (30, 105, 6.0)}
    # map-side combinable: partial_max runs BEFORE the exchange (struct max
    # plans as SortAggregate, still partially aggregated), and no window
    plan = latest_by_key(df, ["k"], "ts", "eid", ["v"])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan and "partial_max(struct" in plan


def test_substring_dedup_removes_repeated_runs(spark):
    # L=3: "a b c d" repeats verbatim across docs 1 and 2 -> all four of
    # doc 2's tokens are covered by its duplicated 3-grams; doc 3 shares
    # no 3-gram; doc 4 is shorter than L (no grams, kept whole); doc 5
    # repeats a run INSIDE itself (first occurrence wins, second removed).
    rows = [
        (1, "a b c d unique tail one"),
        (2, "a b c d"),
        (3, "totally different words here"),
        (4, "x y"),
        (5, "p q r filler p q r"),
    ]
    out = {
        r.doc_id: r
        for r in dedup.substring_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), length=3
        ).collect()
    }
    assert len(out) == 5
    assert out[1].text_dedup == "a b c d unique tail one"  # winner keeps all
    assert out[1].n_dup_tokens == 0
    assert out[2].text_dedup == ""  # every token inside a duplicated run
    assert (out[2].n_tokens, out[2].n_dup_tokens) == (4, 4)
    assert out[3].text_dedup == "totally different words here"
    assert out[4].text_dedup == "x y"  # shorter than L: no grams, untouched
    assert out[5].text_dedup == "p q r filler"
    assert (out[5].n_tokens, out[5].n_dup_tokens) == (7, 3)


def test_incremental_minhash_dedup_batch_vs_index(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    uniq = "completely different words about spark partitions and shuffles here"
    docs = [
        (1, base),                      # index
        (2, uniq + " extra tail"),      # index
        (10, base),                     # new: exact dup of index doc 1
        (15, "nothing like anything else in this corpus at all whatsoever"),
        (20, base),                     # new: dup of index 1 AND of new 10
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    new = df.filter("doc_id >= 10")
    index = df.filter("doc_id < 10")
    out = {
        r.doc_id: r
        for r in dedup.incremental_minhash_dedup(new, index, threshold=0.8).collect()
    }
    assert set(out) == {10, 15, 20}          # index docs never emitted
    assert out[15].keep and out[15].dup_of is None
    assert not out[10].keep and out[10].dup_of == 1
    # doc 20 matches index doc 1 and batch doc 10 at equal jaccard (1.0):
    # tie-break min partner id -> 1
    assert not out[20].keep and out[20].dup_of == 1
    assert out[20].jaccard == 1.0


def test_incremental_minhash_dedup_batch_first_occurrence_wins(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    df = spark.createDataFrame(
        [(10, text), (20, text)], "doc_id long, text string"
    )
    index = spark.createDataFrame(
        [(1, "unrelated content entirely about databases and query planners")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.incremental_minhash_dedup(df, index).collect()
    }
    assert out[10].keep                      # first occurrence in the batch
    assert not out[20].keep and out[20].dup_of == 10


def test_null_text_is_never_a_near_duplicate(spark):
    """NULL text has no shingle set, signature or pair; "" stays an
    ordinary document."""
    text = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, text), (5, text)],
        "doc_id long, text string",
    )
    want = {(4, 5)}
    for pairs in (
        dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=0.8),
        dedup.jaccard_dup_pairs(docs, "doc_id", "text", threshold=0.5),
    ):
        assert {(r.id_a, r.id_b) for r in pairs.collect()} == want
    labeled = {
        r.doc_id: r.keep_id
        for r in dedup.dedup_documents(docs, "doc_id", "text").collect()
    }
    assert labeled == {1: 1, 2: 2, 3: 3, 4: 4, 5: 4}
    index = spark.createDataFrame(
        [(100, None), (101, "unrelated words about query planners")],
        "doc_id long, text string",
    )
    inc = {
        r.doc_id: (r.keep, r.dup_of)
        for r in dedup.incremental_minhash_dedup(docs, index).collect()
    }
    assert inc == {1: (True, None), 2: (True, None), 3: (True, None),
                   4: (True, None), 5: (False, 4)}
    assert {r.id for r in dedup.simhash64(docs, "doc_id", "text").collect()} == {3, 4, 5}


def test_host_mirror_pairs_jaccard_and_stop_digest(spark):
    from autoextraction_spark.operators.dedup import host_mirror_pairs

    rows = (
        # hosts A and B mirror two pages; A has one unique page
        [("A", "page one"), ("A", "page two"), ("A", "only on a"),
         ("B", "page one"), ("B", "page two")]
        # a boilerplate text on EVERY host must be stop-digest-excluded
        + [(h, "cookie banner") for h in ("A", "B", "C", "D")]
        # C and D share nothing real -> no pair row once boilerplate drops
        + [("C", "c only"), ("D", "d only")]
        # NULL text has no digest: it counts on no host, whether fewer
        # hosts than the cap hold it (A, B) or more (A-E)
        + [("A", None), ("B", None)]
    )
    df = spark.createDataFrame(rows, "host string, text string")
    wide = spark.createDataFrame(rows + [(h, None) for h in "CDE"], "host string, text string")
    for pages in (df, wide):
        got = {
            (r.host_a, r.host_b): (r.shared, r.n_a, r.n_b, r.jaccard)
            for r in host_mirror_pairs(pages, max_hosts_per_digest=3).collect()
        }
        # jaccard over digest sets WITHOUT the boilerplate: 2 / (3 + 2 - 2)
        assert got == {("A", "B"): (2, 3, 2, round(2 / 3, 6))}


def test_minhash_all_duplicate_corpus_is_one_quadratic_block(spark):
    # co_key_pairs' uncapped giant-block contract: n identical documents
    # share every LSH band, so all n(n-1)/2 pairs come back, each exact
    docs = spark.range(100).selectExpr("id AS doc_id", "'one two three four five six' AS text")
    rows = dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows) == 4950
    assert {r.jaccard for r in rows} == {1.0}
    assert all(r.id_a < r.id_b for r in rows)


def test_dup_profile_histogram(spark):
    # clusters: {1,2,3} (size 3), {10,11} (size 2), {20},{21} singletons
    labeled = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 21)],
        "doc_id long, keep_id long",
    )
    rows = {r.cluster_size: r for r in dedup.dup_profile(labeled).collect()}
    assert rows[3].n_clusters == 1 and rows[3].n_docs == 3 and rows[3].n_excess == 2
    assert rows[2].n_clusters == 1 and rows[2].n_docs == 2 and rows[2].n_excess == 1
    assert rows[1].n_clusters == 2 and rows[1].n_docs == 2 and rows[1].n_excess == 0
    # total excess == docs minus survivors
    assert sum(r.n_excess for r in rows.values()) == 7 - 4


def test_jaccard_threshold_sweep_cumulative(spark):
    pairs = spark.createDataFrame(
        [(0.55,), (0.58,), (0.72,), (0.95,), (1.0,)], "jaccard double"
    )
    rows = {r.bucket: r for r in
            dedup.jaccard_threshold_sweep(pairs, buckets=10).collect()}
    assert rows[5].n_pairs == 2 and rows[7].n_pairs == 1
    # exact 1.0 lands in the right-closed top band with 0.95
    assert rows[9].n_pairs == 2
    # cumulative at-or-above: monotone down the buckets
    assert rows[9].n_pairs_ge == 2
    assert rows[7].n_pairs_ge == 3
    assert rows[5].n_pairs_ge == 5
    assert rows[5].threshold == 0.5


def test_boilerplate_grams_stop_gram_mining(spark):
    boiler = "please accept our cookie policy"
    d = spark.createDataFrame(
        [
            (1, "h1", f"{boiler} unique one text body"),
            (2, "h2", f"{boiler} {boiler} other words here"),  # twice in one doc
            (3, "h3", f"intro words {boiler}"),
            (4, "h1", "shared only on two hosts gram x"),
            (5, "h2", "shared only on two hosts gram y"),
        ],
        "doc_id long, host string, text string",
    )
    out = {r.gram: r for r in
           dedup.boilerplate_grams(d, n=5, min_hosts=3).collect()}
    assert boiler in out
    r = out[boiler]
    assert r.n_hosts == 3 and r.n_docs == 3 and r.n_occurrences == 4
    # 2-host grams are below the stop-gram bar
    assert all(v.n_hosts >= 3 for v in out.values())
    assert not any(g.startswith("shared only") for g in out)


def test_spread_input_matches_plan_nodes_not_plan_text(spark):
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    narrow = spark.range(0, 100, 1, 1)
    # a wide-node name inside a column name is not a wide node
    for name in ("id", "JoinDate", "SortOrder", "text_Window"):
        df = narrow.withColumnRenamed("id", name)
        assert dedup.spread_input(df).rdd.getNumPartitions() == target, name
    joined = narrow.join(spark.range(0, 10, 1, 1), "id")
    agg = narrow.groupBy((F.col("id") % 3).alias("k")).count()
    narrow.createOrReplaceTempView("spread_t")
    sub = spark.sql(
        "SELECT * FROM spread_t WHERE id > (SELECT max(id) - 5 FROM spread_t)"
    )
    for df in (joined, agg, sub):
        assert dedup.spread_input(df) is df
