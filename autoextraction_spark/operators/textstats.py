"""Text-analysis operators for a training-data pipeline (engine-new):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure JVM/codegen expressions (zero UDFs) so they run at scan speed and
every one has a DuckDB oracle. At 100 TB these are the per-document map
stages that must never leave whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cap_blocks, ckpt, co_key_pairs
from .dedup import spread_input

# BPE-ish tokenization: letter runs | digit runs | single non-space symbol
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
PUNCT_RE = "[.,;:!?'\"()\\[\\]{}-]"
# literal CJK range chars: \uXXXX escapes are Java-regex-only (RE2 uses
# \x{...}), literal characters parse identically in both dialects
CJK_RE = "[一-鿿]"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]

# distinctive-marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "es": ["el", "que", "los"],
    "fr": ["le", "et", "les"],
}


def _word_count(col: Column, word: str) -> Column:
    # count whole-word occurrences via regexp with word boundaries
    return F.regexp_count(col, F.lit(f"\\b{word}\\b"))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_chars, n_ws_tokens (whitespace), n_bpe_tokens (regex)."""
    df = spread_input(df)
    t = F.col(text_col)
    return (
        df.withColumn("n_chars", F.length(t).cast("long"))
        .withColumn("n_ws_tokens", F.size(F.split(t, "\\s+")).cast("long"))
        .withColumn("n_bpe_tokens", F.regexp_count(t, F.lit(BPE_TOKEN_RE)).cast("long"))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + composite score.

    The composite mirrors common web-corpus filters (Gopher/C4-style): long
    enough, not punctuation-soup, contains stopwords (real prose does).
    """
    df = spread_input(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, "\\s+"))
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    n_stop = None
    for w in STOPWORDS:
        c = _word_count(t, w)
        n_stop = c if n_stop is None else n_stop + c
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    avg_tok_len = n_chars / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when(n_tokens >= 10, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((avg_tok_len >= 3) & (avg_tok_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("avg_token_len", F.round(avg_tok_len, 6))
        .withColumn("quality", F.round(score, 6))
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: CJK presence → zh, else argmax of
    language-marker stopword counts (ties broken by fixed language order)."""
    df = spread_input(df)
    t = F.col(text_col)
    counts: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        cnt = None
        for w in words:
            c = _word_count(t, w)
            cnt = c if cnt is None else cnt + c
        counts[lang] = cnt
    mx = F.greatest(*counts.values())
    pred = F.when(F.regexp_count(t, F.lit(CJK_RE)) > 0, F.lit("zh")).when(
        mx == 0, F.lit("und")
    )
    for lang in LANG_MARKERS:  # insertion order = tie-break priority
        pred = pred.when(counts[lang] == mx, F.lit(lang))
    return df.withColumn("lang_pred", pred)


def containment_audit(
    df: DataFrame,
    args_col: str | Column = "args",
    text_col: str = "text",
    seg_re: str = "\n",
    boundary: bool = False,
    out_col: str = "passed",
) -> DataFrame:
    """P13 argument-containment data-quality audit (reference test.py:7-27):
    a row passes iff SOME ``seg_re``-split segment of ``text_col`` contains
    EVERY string in ``args_col`` (array<string>).

    Defaults mirror the reference exactly: newline segmentation, plain
    substring containment (``arg in seg``). ``boundary=True`` requires each
    arg to be whitespace-token-bounded inside the segment (space-padded
    containment) — the stricter mode for space-delimited languages, where
    plain substring containment cannot distinguish 'Acme Corp' inside
    'Acme Corporation'. Pure JVM ``exists``/``forall`` — no UDF, stays in
    codegen at 100 TB scan speed.
    """
    segs = F.split(F.col(text_col), seg_re)
    args = F.col(args_col) if isinstance(args_col, str) else args_col

    def arg_in(seg: Column, arg: Column) -> Column:
        if boundary:
            return F.contains(
                F.concat(F.lit(" "), seg, F.lit(" ")),
                F.concat(F.lit(" "), arg, F.lit(" ")),
            )
        return F.contains(seg, arg)

    passed = F.exists(segs, lambda s: F.forall(args, lambda a: arg_in(s, a)))
    return df.withColumn(out_col, passed)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A1.1),
    adapted to word level for single-line web text: documents dominated by
    a few repeated words/phrases are boilerplate or spam, and every large
    training-data pipeline filters on exactly these fractions.

    Adds
      - ``dup_word_frac``: fraction of word occurrences that are repeats
        (1 - distinct/total),
      - ``top_bigram_frac``: share of all word-bigram occurrences taken by
        the single most frequent bigram (Gopher's "top n-gram fraction"),
      - ``dup_trigram_frac``: fraction of trigram occurrences that are
        repeats (Gopher's "duplicate n-gram fraction"),
      - ``repetitive``: 1 if any fraction crosses its Gopher-ish threshold
        (0.5 / 0.18 / 0.30).

    Per-document higher-order functions — ZERO shuffle, stays in one
    scan, but the top-bigram mode is O(distinct x total) per document: the
    right plan while document length is bounded (web pages
    post-truncation: a 1k-word doc is ~1M cheap comparisons, still far
    cheaper than a shuffle).
    """
    df = spread_input(df)
    t = F.col(text_col)
    words = F.split(t, "\\s+")
    n_w = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, F.lit(1), n_w - 1),
        F.slice(words, F.lit(2), n_w - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    trigrams = F.zip_with(
        F.slice(bigrams, F.lit(1), n_w - 2),
        F.slice(words, F.lit(3), n_w - 2),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    top_bg = F.array_max(
        F.transform(
            F.array_distinct(bigrams),
            lambda b: F.size(F.filter(bigrams, lambda x: x == b)),
        )
    )
    dup_w = F.when(
        n_w > 0, 1.0 - F.size(F.array_distinct(words)) / n_w
    ).otherwise(F.lit(0.0))
    top_bg_frac = F.when(
        n_w > 1, top_bg / F.size(bigrams)
    ).otherwise(F.lit(0.0))
    dup_tg = F.when(
        n_w > 2, 1.0 - F.size(F.array_distinct(trigrams)) / F.size(trigrams)
    ).otherwise(F.lit(0.0))
    out = (
        df.withColumn("dup_word_frac", F.round(dup_w, 6))
        .withColumn("top_bigram_frac", F.round(top_bg_frac, 6))
        .withColumn("dup_trigram_frac", F.round(dup_tg, 6))
    )
    return out.withColumn(
        "repetitive",
        (
            (F.col("dup_word_frac") > 0.5)
            | (F.col("top_bigram_frac") > 0.18)
            | (F.col("dup_trigram_frac") > 0.30)
        ).cast("int"),
    )


C4_BANNED = ["lorem ipsum", "javascript", "{"]


def c4_filters(df: DataFrame, text_col: str = "text", min_words: int = 5) -> DataFrame:
    """C4-style document filter signals (Raffel et al. 2020, §2.2), the
    other canonical web-corpus cleaning pass next to Gopher repetition.

    Adds
      - ``n_sentences``: count of sentence-terminal punctuation runs
        (``[.!?]+``),
      - ``ends_terminal``: 1 if the trimmed text ends in sentence-terminal
        punctuation (C4 keeps only lines that do),
      - ``n_words``: whitespace word count,
      - ``has_banned``: 1 if the lowercased text contains any boilerplate
        marker (lorem ipsum / javascript / curly brace — C4's policy and
        code-fragment tells),
      - ``c4_keep``: 1 iff n_words >= min_words, >= 1 sentence terminal,
        and no banned marker.

    Pure codegen (regexp_count / endswith / contains) — per-document map
    work that stays inside the scan's WholeStageCodegen at 100 TB.
    """
    df = spread_input(df)
    t = F.col(text_col)
    low = F.lower(t)
    n_sent = F.regexp_count(t, F.lit("[.!?]+"))
    ends = F.rtrim(t).rlike("[.!?][\"')\\]]*$")
    banned = None
    for m in C4_BANNED:
        c = F.contains(low, F.lit(m))
        banned = c if banned is None else banned | c
    n_words = F.size(F.split(F.trim(t), "\\s+"))
    keep = (n_words >= min_words) & (n_sent >= 1) & ~banned
    return (
        df.withColumn("n_sentences", n_sent.cast("long"))
        .withColumn("ends_terminal", ends.cast("int"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("has_banned", banned.cast("int"))
        .withColumn("c4_keep", keep.cast("int"))
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercase text
    (portable) + a 31-polynomial rolling hash over characters (Spark-side;
    rolling hashes are the building block for content-defined chunking)."""
    df = spread_input(df)
    t = F.col(text_col)
    norm = F.lower(F.regexp_replace(t, "\\s+", " "))
    rolling = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.coalesce(F.ascii(c), F.lit(0))) % 2147483647,
    )
    return df.withColumn("fp_md5", F.md5(norm)).withColumn("fp_rolling", rolling)


# PII patterns written in the RE2∩Java-regex common dialect: explicit
# character classes only (no \d/\b — those diverge or need double-escaping
# between Spark SQL and DuckDB), so the SAME string drives both engines.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, pattern, replacement) — applied IN ORDER on the running text:
    # emails first (their local parts would otherwise feed the phone rule),
    # then phones, then bare IPv4s.
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", "[+][0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass (the compliance stage every web-scale training
    pipeline runs before anything trains): sequentially count and replace
    emails, phone numbers, and IPv4 addresses with typed placeholder
    tokens. Adds ``n_email``/``n_phone``/``n_ipv4`` and ``text_redacted``;
    the original column is left untouched so downstream audits can diff.

    Counts are taken on the RUNNING text (after the previous rule's
    replacement) — the rules therefore never double-count overlapping
    matches, and the (count, replace) sequence is reproducible verbatim in
    the SQL oracle. Pure codegen (regexp_count/regexp_replace): per-document
    map work with zero shuffle at 100 TB scan speed.
    """
    df = spread_input(df)
    cur = F.col(text_col)
    out = df
    for kind, pat, rep in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(cur, F.lit(pat)).cast("long"))
        cur = F.regexp_replace(cur, pat, rep)
    return out.withColumn("text_redacted", cur)


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set (Robertson et al., TREC-3; the Lucene ``1 +`` idf form, always
    positive) — the standard targeted-data-selection primitive: score a
    web corpus against a domain query and keep the top mass (the
    "importance resampling" selection of DSIR-style pipelines, with BM25
    standing in for the importance weight).

    Returns (id_col, score, n_matched) — one row per input document, 0.0
    for documents matching no query term.

    Scale shape (100 TB): the token explode filters to QUERY TERMS ONLY
    before any shuffle, so the per-(doc, term) tf aggregation moves a few
    rows per document regardless of document length; per-term document
    frequencies are a tiny broadcast; N and avgdl are a 1-row crossJoined
    aggregate (the no-collect scalar idiom); the final per-doc sum groups
    on the id. No UDF anywhere — ln/arithmetic stay in codegen, and the
    oracle reproduces the exact expression trees.
    """
    df = spread_input(df)
    k1, b = float(k1), float(b)
    docs = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    ).withColumn("dl", F.size("w"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    toks = docs.select("id", "dl", F.explode("w").alias("term")).filter(
        F.col("term").isin([str(t) for t in query_terms])
    )
    # The per-(doc, query-term) tf table feeds BOTH the df_t aggregation
    # and the scoring join; materialize it once so the documents scan +
    # explode is not replayed (it is tiny — a few rows per matching doc).
    tf = ckpt(
        toks.groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    agg = scored.groupBy("id").agg(
        F.round(F.sum("contrib"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    return (
        docs.select("id")
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target: Column,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    seed: str = "|dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al., *Data Selection for Language
    Models via Importance Resampling*, NeurIPS 2023): score every document
    by the log-likelihood ratio of its hashed bigram bag under a target-
    domain model vs the raw-corpus model,

        logw(doc) = Σ_{bigrams} [ ln p̂_target(bucket) − ln p̂_raw(bucket) ]

    with add-``k`` smoothed hashed-bucket unigram models
    p̂(b) = (c(b) + k) / (N + k·B). ``target`` is a boolean Column over
    ``df``'s rows marking the target-domain subset (the paper trains the
    target model on e.g. Wikipedia; here any in-corpus predicate works).
    Documents with <2 tokens have no bigram and drop out, as in
    :func:`~autoextraction_spark.operators.lm.lm_perplexity`. The paper
    hashes unigrams+bigrams into 10k buckets; this uses bigrams only and a
    configurable ``B`` (deviation noted, semantics identical).

    Returns (id_col, n_grams, log_weight) — log_weight rounded to 6 so the
    SQL oracle's float-sum ordering and 1-ulp libm-log differences are
    absorbed (the lm_perplexity parity rule); ``k`` defaults to an exact
    binary fraction so the smoothing literal is bit-identical.

    Scale shape (100 TB): the (doc, bucket) explode is computed ONCE
    (DISK_ONLY checkpoint) and feeds all three consumers — the raw bucket
    counts, the target bucket counts, and the per-doc scoring sum. Both
    count tables are ≤``n_buckets`` rows → broadcast joins; the only
    corpus-size shuffle is the final map-side-combinable groupBy(id). The
    hash is the md5-derived :func:`~.dedup.portable_hash64` (engine-
    independent), not Murmur3.
    """
    df = spread_input(df)
    from .dedup import portable_hash64  # local import avoids module cycle

    kr, B = float(k), int(n_buckets)
    w = df.select(
        F.col(id_col).alias("id"),
        target.alias("is_target"),
        F.split(F.col(text_col), " ").alias("w"),
    ).filter(F.size("w") >= 2)
    grams = w.select(
        "id",
        "is_target",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("gram"),
    ).select(
        "id",
        "is_target",
        F.pmod(portable_hash64(F.col("gram"), seed), F.lit(B)).alias("bucket"),
    )
    grams = ckpt(grams)

    raw = grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        grams.filter("is_target")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    # scalar totals as GLOBAL-WINDOW sums over the joined ≤B-row count
    # table (Σ bucket counts ≡ N, and raw ⊇ tgt buckets since the target
    # is a corpus subset) — separate .agg() scalars would re-execute the
    # raw/tgt aggregations and re-read the corpus-size gram checkpoint
    # twice more; the single-partition window moves only B rows
    w_all = Window.partitionBy()
    ratio = (
        raw.join(tgt, "bucket", "left")
        .withColumn("n_raw", F.sum("c_raw").over(w_all))
        .withColumn("n_tgt", F.sum(F.coalesce(F.col("c_tgt"), F.lit(0))).over(w_all))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(kr))
                    / (F.col("n_tgt") + F.lit(kr * B))
                )
                - F.log((F.col("c_raw") + F.lit(kr)) / (F.col("n_raw") + F.lit(kr * B)))
            ).alias("logratio"),
        )
    )
    return (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("logratio"), 6).alias("log_weight"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            "log_weight",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 15,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    *Winnowing: local algorithms for document fingerprinting* — the MOSS
    algorithm): hash every char k-gram of the whitespace-normalized
    lowercase text, slide a w-hash window, and select each window's
    minimum hash (ties → rightmost). Any shared substring of length ≥
    w + k − 1 between two documents is GUARANTEED to share a selected
    fingerprint — the local-selection property that makes fingerprint
    equi-joins a sound plagiarism/quote detector, which a global-min
    scheme (fingerprint's fp_rolling, or MinHash) cannot promise.

    Output: one row per distinct selection (id, pos, fp) — pos the
    1-based gram position, fp the portable 60-bit hash — i.e. the posting
    table a fingerprint index is built from; expected density ~2/(w+1).
    A text shorter than k (including ``""``) is one whole-string gram and
    one selection at pos 1; a NULL text has no grams and emits no rows.
    ``id_col`` must be a key: rows sharing an id are winnowed as one
    document.

    Scale shape: the posting table is built once and then probed: it is a
    lazy DISK_ONLY checkpoint (the ``shingle_sets`` rule), written by its
    first consumer and read by every later one, so the window pass runs
    once. Building it runs only the id exchange's map stage (AQE runs a
    plan's shuffle stages when the checkpoint RDD is made). Under the
    checkpoint is one exchange, hash-partitioning (id, normalized text) by
    id into ``spark.sql.shuffle.partitions`` parts, so the shuffle carries
    text (~1 byte per char), never per-gram rows. Above it are plain
    whole-stage-codegen operators and two window passes over that same
    partitioning (no second exchange, no higher-order function): gram
    positions are exploded, each gram is hashed in codegen, and each
    window's rightmost minimum is ``min(struct(fp, -pos))`` over the w-row
    frame starting at the gram (the struct order makes the larger pos win
    fp ties; Spark truncates trailing frames at the document end). Only
    windows starting at pos ≤ max(n-w+1, 1) are kept. Under rightmost-min
    the selected position never decreases as the window slides, so
    repeated selections are adjacent and a ``lag`` filter replaces a
    ``distinct`` shuffle.
    """
    return ckpt(_winnow_plan(df, id_col, text_col, k, w))


def _winnow_plan(df: DataFrame, id_col: str, text_col: str, k: int, w: int) -> DataFrame:
    """The window pass that ``winnow_fingerprints`` checkpoints."""
    from .dedup import portable_hash64

    # a fixed partition count: AQE would coalesce a by-column repartition
    # by its text bytes, but every text byte fans out into a gram row of
    # md5 + window work after the exchange (measured at 500 docs on 4
    # cores: coalesced to 2 tasks, 15% slower than the 8 configured)
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.lower(F.regexp_replace(F.col(text_col), "\\s+", " ")).alias("nt"),
        )
        .repartition(n_parts, "id")
        .withColumn("n", F.greatest(F.length("nt") - (k - 1), F.lit(1)))
        .select("id", "nt", "n", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("pos"))
        .select(
            "id",
            "n",
            F.col("pos").cast("long").alias("pos"),
            portable_hash64(F.substring("nt", F.col("pos"), k), seed="#winnow").alias("fp"),
        )
    )
    by_pos = Window.partitionBy("id").orderBy("pos")
    sel = F.min(F.struct(F.col("fp"), (-F.col("pos")).alias("neg_pos")))
    wins = (
        grams.withColumn("s", sel.over(by_pos.rowsBetween(0, w - 1)))
        .filter(F.col("pos") <= F.greatest(F.col("n") - (w - 1), F.lit(1)))
        .select("id", "pos", (-F.col("s.neg_pos")).alias("sel_pos"), F.col("s.fp").alias("sel_fp"))
    )
    return (
        wins.withColumn("prev", F.lag("sel_pos").over(by_pos))
        .filter(~F.col("prev").eqNullSafe(F.col("sel_pos")))
        .select("id", F.col("sel_pos").alias("pos"), F.col("sel_fp").alias("fp"))
    )


def shared_fingerprint_pairs(
    fps: DataFrame,
    min_shared: int = 3,
    max_docs_per_fp: int = 20,
    id_col: str = "id",
    fp_col: str = "fp",
) -> DataFrame:
    """The MOSS detector output over winnow_fingerprints: document pairs
    sharing ≥ ``min_shared`` distinct fingerprints — quote / plagiarism /
    near-copy candidates with a guaranteed-detection floor (every shared
    run ≥ w+k−1 chars contributes a shared fingerprint).

    Skew rule (the host_mirror_pairs stop-digest analog, and it BITES
    here: 15% of this corpus's fingerprints sit on >20 docs): a
    fingerprint on more than ``max_docs_per_fp`` documents is template
    boilerplate — ``materialize.cap_blocks`` excludes it BEFORE the
    fp-keyed ``co_key_pairs`` join, which bounds the viral-fingerprint
    quadratic blow-up and removes the false-positive signal.

    Scale shape: one fp exchange feeds the distinct (id, fp) projection,
    the per-fp document count and both sides of the fp equi-join (AQE
    reuses it: a ``ReusedExchange``), so no checkpoint is needed for an
    input to be read once. The pair aggregation is map-side combinable.
    """
    f = cap_blocks(
        fps.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp")), ["fp"], max_docs_per_fp
    )
    return (
        co_key_pairs(f, "id", ["fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Per-document top-k TF-IDF keywords over whitespace tokens:
    ``score = tf · ln(N / df)`` — the classic keyword/description extractor
    a corpus card or search index builds per page.

    Cross-engine parity: tf, df and N are exact integers; the single
    ``ln`` is the only libm call, absorbed by the repo's round(·, 6) rule,
    and the top-k window orders by the ROUNDED score with the term as a
    total tiebreak, so rank order is deterministic in both engines.

    Scale shape: the (doc, token) explode is checkpointed ONCE and feeds
    all three consumers (tf, df, N); df and N are partial-aggregated; the
    per-doc window partitions by doc_id — no global sort.
    """
    df = spread_input(df)
    tok = ckpt(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        ),
        eager=True,
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = (
        tok.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    n = tok.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    score = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information:
    ``pmi = ln(c_xy · U² / (T · c_x · c_y))`` with c_xy the adjacent-pair
    count, c_x/c_y unigram counts, T total bigrams, U total tokens — the
    phrase-vocabulary miner a tokenizer/packing pipeline runs before
    training (Manning & Schütze ch. 5 collocations).

    Cross-engine parity: all five PMI inputs are exact integer counts in
    ONE ln argument (single libm call, round(·, 6) absorbs); adjacent
    pairs are built with zip_with over array slices BEFORE the explode —
    guarded by size ≥ 2 because Spark's sequence(1, 0) DESCENDS.

    Scale shape: the token-array projection is checkpointed ONCE and
    feeds bigrams, unigrams and the one-row (T, U) scalar aggregate
    (broadcast crossJoin — no collect); bigram and unigram counts are
    partial-aggregated; the two c_x/c_y lookups are term-keyed equi-joins.
    """
    df = spread_input(df)

    arr = ckpt(df.select(F.split(F.col(text_col), " ").alias("a")), eager=True)
    sz = F.size(F.col("a"))
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice(F.col("a"), 1, sz - 1),
            F.slice(F.col("a"), 2, sz - 1),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        ),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
    big = (
        arr.select(F.explode(pairs).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    uni = (
        arr.select(F.explode(F.col("a")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = arr.agg(
        F.sum(F.greatest(sz - 1, F.lit(0))).cast("long").alias("t_big"),
        F.sum(sz).cast("long").alias("u_tok"),
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy") * F.col("u_tok") * F.col("u_tok")).cast("double")
            / (F.col("t_big") * F.col("c_x") * F.col("c_y"))
        ),
        6,
    )
    return (
        big.join(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y")), "y")
        .crossJoin(F.broadcast(tot))
        .select("x", "y", "c_xy", "c_x", "c_y", pmi.alias("pmi"))
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary rule, Muthitacharoen
    et al. 2001): a chunk boundary falls before every position whose char
    k-gram hash ≡ 0 (mod ``mask``), so boundaries move WITH the content —
    an insertion early in a page re-chunks only its local neighborhood,
    which is what makes chunk-hash dedup robust to boilerplate drift where
    fixed-width chunking resyncs never. Output: ``(doc_id, chunk_idx,
    start, length, chunk_hash)`` — the chunk-granularity dedup/delta table.
    Expected chunk length ≈ ``mask`` chars (no min/max clamps here; a
    production CDC adds them, at the cost of the pure content-determinism
    this oracle checks).

    Scale shape: boundary selection is pure per-row codegen over array
    expressions (the gram-hash array materialized ONCE per row, so the md5
    chain is not re-evaluated per array access); the chunk explode is
    map-local (no shuffle anywhere); text never leaves its partition —
    only (id, idx, start, len, hash64) rows are emitted.
    """
    df = spread_input(df)
    from .dedup import char_shingles, portable_hash64

    txt = F.col(text_col)
    hdf = df.select(
        F.col(id_col).alias("doc_id"),
        txt.alias("_t"),
        F.transform(
            char_shingles(txt, k), lambda g: portable_hash64(g, seed="#cdc")
        ).alias("hs"),
    )
    hs = F.col("hs")
    bpos = F.filter(
        F.sequence(F.lit(1), F.size(hs)),
        lambda i: F.element_at(hs, i) % mask == 0,
    )
    starts = F.concat(F.array(F.lit(1)), bpos)
    ends = F.concat(bpos, F.array(F.length(F.col("_t")) + 1))
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), (e - s).alias("ln"))
    )
    return (
        hdf.select("doc_id", "_t", F.posexplode(chunks).alias("chunk_idx", "c"))
        .filter(F.col("c.ln") > 0)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.s").cast("long").alias("start"),
            F.col("c.ln").cast("long").alias("length"),
            portable_hash64(
                F.expr("substring(_t, c.s, c.ln)"), seed="#chunk"
            ).alias("chunk_hash"),
        )
    )
