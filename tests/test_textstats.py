"""Text-analysis operators (langid, quality, tokens, fingerprint)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import textstats


def test_token_stats(spark):
    df = spark.createDataFrame([("hello world, 42 times!",)], "text string")
    r = textstats.token_stats(df).collect()[0]
    assert r.n_chars == 22
    assert r.n_ws_tokens == 4
    # tokens: hello, world, ',', 42, times, '!'
    assert r.n_bpe_tokens == 6


def test_quality_score_components(spark):
    good = "the quick brown fox jumps over the lazy dog and runs on through the field"
    bad = "!!! ??? ,,, ;;; ... !!!"
    df = spark.createDataFrame([(1, good), (2, bad)], "id int, text string")
    rows = {r.id: r for r in textstats.quality_score(df).collect()}
    assert rows[1].quality == 1.0
    assert rows[2].quality <= 0.25
    assert rows[2].punct_ratio > 0.5
    assert rows[1].stopword_ratio > 0.1


def test_lang_id_rule(spark):
    cases = [
        (1, "the cat and the dog of the house", "en"),
        (2, "der hund und der mann nicht da", "de"),
        (3, "el perro que corre por los campos", "es"),
        (4, "le chat et les chiens", "fr"),
        (5, "王伟任职于华信集团。", "zh"),
        (6, "xyzzy plugh quux", "und"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "id int, text string")
    got = {r.id: r.lang_pred for r in textstats.lang_id(df).collect()}
    for i, _, expect in cases:
        assert got[i] == expect, (i, got[i])


def test_containment_audit_reference_semantics(spark):
    # reference test.py:7-27: ALL args must appear in ONE newline-split
    # segment; args split across segments fail
    from pyspark.sql import functions as F

    rows = [
        (1, "Acme hired Bob in Denver\nfiller line", ["Acme", "Bob", "Denver"]),
        (2, "Acme hired Bob\nin Denver", ["Acme", "Bob", "Denver"]),
        (3, "no mention at all", ["Acme"]),
        (4, "Acme Corporation is big", ["Acme Corp"]),  # substring: passes
    ]
    df = spark.createDataFrame(rows, "id int, text string, args array<string>")
    got = {r.id: r.passed for r in textstats.containment_audit(df).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}
    # boundary mode: token-bounded containment distinguishes Corp/Corporation
    gotb = {
        r.id: r.passed
        for r in textstats.containment_audit(df, boundary=True).collect()
    }
    assert gotb[1] is True and gotb[4] is False
    # custom segment regex (sentence split)
    s = spark.createDataFrame(
        [(1, "Alice Stone works for Acme Corp. markets were calm.")],
        "id int, text string",
    )
    out = textstats.containment_audit(
        s, args_col=F.array(F.lit("Alice Stone"), F.lit("Acme Corp")),
        seg_re="[.]", boundary=True,
    ).collect()[0]
    assert out.passed is True


def test_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "id int, text string",
    )
    rows = {r.id: r for r in textstats.fingerprint(df).collect()}
    # whitespace-normalized lowercase: 1 and 2 collide by design
    assert rows[1].fp_md5 == rows[2].fp_md5 == hashlib.md5(b"hello world").hexdigest()
    assert rows[1].fp_rolling == rows[2].fp_rolling
    assert rows[3].fp_md5 != rows[1].fp_md5
    # rolling hash matches the reference polynomial
    h = 0
    for ch in "hello world":
        h = (h * 31 + ord(ch)) % 2147483647
    assert rows[1].fp_rolling == h


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b c"),          # bigrams: [a b, b a, a b, b c] -> top 2/4
            (2, "x"),                  # degenerate: no bigrams/trigrams
            (3, "spam spam spam spam"),  # fully repetitive
            (4, "p q r s t u v w"),    # no repetition at all
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    assert rows[1].dup_word_frac == round(1 - 3 / 5, 6)
    assert rows[1].top_bigram_frac == 0.5
    assert rows[1].dup_trigram_frac == 0.0  # [a b a, b a b, a b c] all distinct
    assert rows[2].dup_word_frac == 0.0
    assert rows[2].top_bigram_frac == 0.0
    assert rows[2].repetitive == 0
    assert rows[3].dup_word_frac == 0.75
    assert rows[3].top_bigram_frac == 1.0
    assert rows[3].dup_trigram_frac == 0.5
    assert rows[3].repetitive == 1
    assert rows[4].repetitive == 0


def test_repetition_matches_oracle(spark, sf_dir):
    """The zero-shuffle HOF plan equals the DuckDB oracle's list-function
    definition on the real corpus sample."""
    import duckdb

    from autoextraction_spark import oracle

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    cols = [
        "doc_id", "dup_word_frac", "top_bigram_frac", "dup_trigram_frac",
        "repetitive",
    ]
    got = sorted(
        tuple(r) for r in textstats.repetition_stats(docs).select(*cols).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(map(tuple, con.sql(oracle.repetition_sql()).fetchall()))
    assert len(got) == 200
    assert got == want


def test_c4_filters_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "This is prose. It has sentences! Three of them?"),
            (2, "function() { return 42; }"),
            (3, "lorem ipsum dolor sit amet."),
            (4, "short."),
            (5, "no terminal punctuation here at all"),
            (6, 'He said "stop." '),  # terminal inside trailing quote + space
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in textstats.c4_filters(df).collect()}
    assert rows[1].n_sentences == 3
    assert rows[1].ends_terminal == 1
    assert rows[1].c4_keep == 1
    assert rows[2].has_banned == 1 and rows[2].c4_keep == 0
    assert rows[3].has_banned == 1 and rows[3].c4_keep == 0
    assert rows[4].n_words == 1 and rows[4].c4_keep == 0  # below min_words
    assert rows[5].n_sentences == 0
    assert rows[5].ends_terminal == 0
    assert rows[5].c4_keep == 0
    assert rows[6].ends_terminal == 1


def test_pii_scrub_sequential_redaction(spark):
    from autoextraction_spark.operators.textstats import pii_scrub

    rows = [
        (1, "mail me at jane.doe+spam@sub.example.co.uk thanks"),
        (2, "call +1 (555) 123-4567 or +44 20 7946 0958 now"),
        (3, "server 10.0.0.1 and 192.168.255.3 up"),
        (4, "alice@example.com then +1 555-111-2222 then 8.8.8.8"),
        (5, "no pii here at all"),
    ]
    out = {
        r.doc_id: r
        for r in pii_scrub(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1].n_email == 1
    assert out[1].text_redacted == "mail me at <EMAIL> thanks"
    assert out[2].n_phone == 2
    assert out[2].text_redacted == "call <PHONE> or <PHONE> now"
    assert out[3].n_ipv4 == 2
    assert out[3].text_redacted == "server <IP> and <IP> up"
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (1, 1, 1)
    assert out[4].text_redacted == "<EMAIL> then <PHONE> then <IP>"
    assert (out[5].n_email, out[5].n_phone, out[5].n_ipv4) == (0, 0, 0)
    assert out[5].text_redacted == out[5].text


def test_bm25_score_matches_hand_computation(spark):
    import math

    rows = [
        (1, "spark joins data with data"),   # dl=5, tf(data)=2
        (2, "pandas is slow"),               # dl=3, tf(slow)=1
        (3, "data data data data"),          # dl=4, tf(data)=4
        (4, "nothing relevant here at all"), # dl=5, no match
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in textstats.bm25_score(df, ["data", "slow"]).collect()
    }
    n, avgdl = 4, (5 + 3 + 4 + 5) / 4.0
    k1, b = 1.2, 0.75

    def bm25(tf, dl, df_t):
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    assert got[1].score == pytest.approx(bm25(2, 5, 2), abs=1e-6)
    assert got[1].n_matched == 1
    assert got[2].score == pytest.approx(bm25(1, 3, 1), abs=1e-6)
    assert got[3].score == pytest.approx(bm25(4, 4, 2), abs=1e-6)
    assert got[4].score == 0.0 and got[4].n_matched == 0
    # saturation: 2x the tf does NOT double the contribution
    assert got[3].score < 2 * bm25(2, 4, 2)


def test_dsir_weights_hand_computed(spark):
    # 2 docs, 1 bucket-collision-free toy: bucket model with B buckets and
    # add-k smoothing; target = doc 1 only. Verify one doc's weight by hand.
    import math

    from autoextraction_spark.operators.dedup import portable_hash64

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in textstats.dsir_weights(
            docs, target=(F.col("doc_id") == 1), n_buckets=64, k=0.5
        ).collect()
    }
    # doc 1 grams: "a b","b a","a b" (3); doc 2: "a b","b c","c d" (3)
    assert out[1].n_grams == 3 and out[2].n_grams == 3
    # bucket counts: raw N=6, target N=3
    buckets = {
        g: spark.createDataFrame([(g,)], "g string")
        .select(F.pmod(portable_hash64(F.col("g"), "|dsir"), F.lit(64)).alias("b"))
        .collect()[0]
        .b
        for g in ["a b", "b a", "b c", "c d"]
    }
    from collections import Counter

    raw = Counter(
        [buckets["a b"]] * 3 + [buckets["b a"], buckets["b c"], buckets["c d"]]
    )
    tgt = Counter([buckets["a b"]] * 2 + [buckets["b a"]])

    def lr(b):
        return math.log((tgt.get(b, 0) + 0.5) / (3 + 0.5 * 64)) - math.log(
            (raw[b] + 0.5) / (6 + 0.5 * 64)
        )

    want1 = round(2 * lr(buckets["a b"]) + lr(buckets["b a"]), 6)
    want2 = round(lr(buckets["a b"]) + lr(buckets["b c"]) + lr(buckets["c d"]), 6)
    assert out[1].log_weight == pytest.approx(want1, abs=1e-6)
    assert out[2].log_weight == pytest.approx(want2, abs=1e-6)


def test_dsir_weights_target_docs_score_higher(spark):
    # target docs share vocabulary; off-target doc uses disjoint words ->
    # its grams live in buckets the target model never saw -> lower weight
    docs = spark.createDataFrame(
        [(1, "x y x y x"), (2, "x y x y z"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.log_weight
        for r in textstats.dsir_weights(
            docs, target=(F.col("doc_id") == 1), n_buckets=128
        ).collect()
    }
    assert out[2] > out[3]


def test_dsir_weights_short_docs_drop(spark):
    docs = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id long, text string"
    )
    rows = textstats.dsir_weights(docs, target=(F.col("doc_id") == 2)).collect()
    assert [r.doc_id for r in rows] == [2]


def test_winnow_shared_substring_guarantee(spark):
    from autoextraction_spark.operators.textstats import winnow_fingerprints

    # docs 1 and 2 share a run of length >= w + k - 1 = 10 ("SHAREDRUNXYZ",
    # 12 chars); doc 3 shares nothing
    df = spark.createDataFrame(
        [
            (1, "aaaa SHAREDRUNXYZ bbbb"),
            (2, "cccc SHAREDRUNXYZ dddd"),
            (3, "totally different content"),
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, k=4, w=7)
    fps = {i: {r.fp for r in rows} for i, rows in
           ((i, [r for r in out.collect() if r.id == i]) for i in (1, 2, 3))}
    # the winnowing guarantee: shared substring >= w+k-1 -> shared fingerprint
    assert fps[1] & fps[2]
    # and the match is the shared run, not chance: doc 3 shares nothing
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # selections are deterministic and deduplicated
    assert out.count() == out.distinct().count()


WINNOW_TEXTS = [
    "",  # one whole-string gram
    "abc",  # shorter than k
    "abcdefghijklm",  # shorter than w + k - 1 at (8, 15): one window
    "a" * 40,  # all grams tie: rightmost-tie rule
    "ab" * 30,  # two alternating gram hashes
    "x \t\t\n  y\n\n\nz   \t w " * 4,  # whitespace runs collapse
    "王伟任职于华信集团。" * 4,  # multi-byte chars
    "The Quick  brown\tFOX jumps over the lazy dog " * 3,
    "a\U0001F600b\U0001F600cdef\U0001D538\U0001D539gh" * 3,  # astral: one code point each
    "next\u0085line\u2028sep  \u2029par\u0085" * 3,  # NEL, LS, PS: not regex \s in Java or RE2
]


@pytest.mark.parametrize("k,w", [(8, 15), (4, 7), (3, 1), (5, 2)])
def test_winnow_matches_oracle_on_edge_texts(spark, k, w):
    """The window-pass winnowing equals the DuckDB oracle's per-window
    list_min definition on short, tied, periodic, whitespace-heavy and
    CJK texts."""
    import duckdb
    import pandas as pd

    from autoextraction_spark import oracle

    rows = list(enumerate(WINNOW_TEXTS, start=1))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id, r.pos, r.fp)
        for r in textstats.winnow_fingerprints(df, k=k, w=w).collect()
    )
    con = duckdb.connect()
    documents = pd.DataFrame(rows, columns=["doc_id", "text"])
    con.register("documents", documents)
    want = sorted(map(tuple, con.sql(oracle.winnow_sql(k, w)).fetchall()))
    assert got == want


def test_winnow_null_text_emits_no_rows(spark):
    """NULL text has no grams and no selections; "" is one whole-string
    gram selected at pos 1."""
    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    got = [tuple(r) for r in textstats.winnow_fingerprints(df).collect()]
    empty_fp = int(hashlib.md5(b"#winnow").hexdigest()[:15], 16)
    assert got == [(2, 1, empty_fp)]


def test_winnow_plan_is_one_exchange_without_lambdas(spark):
    """Winnowing runs as plain operators: no higher-order-function lambda
    anywhere in the plan, and the id hash-partitioning is its only
    exchange (no distinct shuffle, no window re-partition)."""
    df = spark.createDataFrame(
        [(1, "some text here"), (2, "other text")], "doc_id long, text string"
    )
    qe = textstats._winnow_plan(df, "doc_id", "text", k=8, w=15)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    assert "lambdafunction" not in optimized.lower()
    assert physical.count("Exchange ") == 1, physical
    assert "Exchange hashpartitioning(id" in physical
    # the public table is that plan materialized once (a checkpoint scan)
    out = textstats.winnow_fingerprints(df)._jdf.queryExecution().analyzed()
    assert out.nodeName() == "LogicalRDD"


# k=4, w=1 selects every gram, so each 4-char run below is one fp; the
# per-doc CJK filler keeps every boundary-crossing gram in its own doc.
# With max_docs_per_fp=3: "wxyz" is on exactly 3 docs (kept; doc 3 holds
# it twice), "hhhh" on 4 (dropped), and doc 1 holds "pqrs" twice.
QUOTE_TEXTS = [
    "pqrs一pqrs一wxyz一hhhh",
    "pqrs二wxyz二hhhh",
    "wxyz三wxyz三hhhh",
    "hhhh四",
    "abcd五",
]
QUOTE_PAIRS = {
    1: [(1, 2, 2), (1, 3, 1), (2, 3, 1)],
    2: [(1, 2, 2)],  # pqrs + wxyz: the min_shared boundary, pqrs once
    3: [],
}


def _quote_oracle(sql):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    documents = pd.DataFrame(list(enumerate(QUOTE_TEXTS, start=1)), columns=["doc_id", "text"])
    con.register("documents", documents)
    return sorted(map(tuple, con.sql(sql).fetchall()))


@pytest.mark.parametrize("source", ["checkpointed", "plain"])
@pytest.mark.parametrize("min_shared", [1, 2, 3])
def test_shared_fingerprint_pairs_matches_oracle(spark, source, min_shared):
    """The MOSS detector keeps an fp on exactly ``max_docs_per_fp`` docs,
    drops one on one more, counts a doc's repeated fp once, and keeps a
    pair at exactly ``min_shared``, equal to the DuckDB oracle, over the
    checkpointed posting table and over a plain DataFrame alike. Building
    the detector's plan runs no Spark job."""
    from autoextraction_spark import oracle

    if source == "checkpointed":
        docs = spark.createDataFrame(list(enumerate(QUOTE_TEXTS, start=1)), "doc_id long, text string")
        fps = textstats.winnow_fingerprints(docs, k=4, w=1)
    else:
        rows = _quote_oracle(oracle.winnow_sql(k=4, w=1))
        fps = spark.createDataFrame(rows, "id long, pos long, fp long")
    sc = spark.sparkContext
    group = f"quote-pairs-build-{source}-{min_shared}"
    try:
        sc.setJobGroup(group, "plan build")
        pairs = textstats.shared_fingerprint_pairs(fps, min_shared=min_shared, max_docs_per_fp=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == QUOTE_PAIRS[min_shared]
    assert got == _quote_oracle(oracle.quote_pairs_sql(k=4, w=1, min_shared=min_shared, max_docs=3))


def test_tfidf_keywords_rare_term_outranks_common(spark):
    from autoextraction_spark.operators.textstats import tfidf_keywords

    # "zebra" appears only in doc 1 (df=1, ln(3/1) > 0); "the" is in all
    # three docs (df=3, ln(3/3)=0 -> score 0 regardless of tf)
    df = spark.createDataFrame(
        [
            (1, "the the the zebra apple"),
            (2, "the apple pie"),
            (3, "the pie crust"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(df, top_k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rank == 1}
    assert top1[1] == "zebra"
    the_rows = [r for r in out if r.term == "the"]
    assert all(r.score == 0.0 for r in the_rows)
    # exactly top_k rows per doc
    assert sorted(r.doc_id for r in out).count(1) == 2


def test_collocations_pmi_math_and_min_count(spark):
    import math

    from autoextraction_spark.operators.textstats import collocations

    # "new york" appears 5x adjacent; "a b" only once (below min_count)
    docs = [(i, "new york") for i in range(5)] + [(99, "a b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocations(df, min_count=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.x, r.y, r.c_xy) == ("new", "york", 5)
    # U=12 tokens, T=6 bigrams, c_x=c_y=5: pmi = ln(5*144/(6*25))
    assert r.pmi == round(math.log(5 * 12 * 12 / (6 * 5 * 5)), 6)


def test_cdc_chunks_cover_text_and_move_with_content(spark):
    from autoextraction_spark.operators.textstats import cdc_chunks

    base = "".join(chr(97 + (i * 7) % 26) for i in range(400))
    # same tail content after an insertion near the head: chunk hashes of
    # the tail region must reappear (content-defined resync), which
    # fixed-width chunking would lose
    df = spark.createDataFrame(
        [(1, base), (2, "XYZPREFIX" + base)], "doc_id long, text string"
    )
    rows = cdc_chunks(df, k=8, mask=16).collect()
    by_doc = {i: sorted((r for r in rows if r.doc_id == i),
                        key=lambda r: r.chunk_idx) for i in (1, 2)}
    for i in (1, 2):
        cs = by_doc[i]
        # chunks tile the text exactly: starts/lengths contiguous from 1
        assert cs[0].start == 1
        for a, b in zip(cs, cs[1:]):
            assert a.start + a.length == b.start
        assert cs[-1].start + cs[-1].length == len(df.collect()[0].text) + 1 \
            if i == 1 else True
        assert all(c.length > 0 for c in cs)
    shared = {c.chunk_hash for c in by_doc[1]} & {c.chunk_hash for c in by_doc[2]}
    assert shared, "insertion must not destroy all downstream chunk identity"
