"""Deduplication & similarity-join machinery (engine-new, north_rule E-stage
prerequisite + training-data-pipeline operators).

Everything here is pure JVM/codegen DataFrame expressions — no UDFs — built
on a PORTABLE 60-bit hash (md5-hex prefix → bigint) that DuckDB can
reproduce, so every operator has a SQL oracle.

Scale notes (the 100 TB story):
- exact dedup groups by the 128-bit digest, never shuffling document bodies;
- shingle sets and MinHash signatures are row-local expressions (no
  shuffle);
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_idx, band_hash) — the only join key, salt-friendly, AQE-splittable;
- candidate pairs are verified with EXACT shingle-set Jaccard (a semi-join
  aggregate), so LSH recall tuning never affects precision.

Reference tie-in: the reference dedups triples with Python ``set()``
(predict.py:144-154) and files with ``RemoveDupRows`` (ljqpy.py:208-214);
near-dup machinery is engine-new per BASELINE.json north_rule (entity
linking with MinHash/LSH-blocked candidate generation).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cap_blocks, ckpt, co_key_pairs

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 8

# Mersenne prime 2^31-1: (a*h + b) % P stays within int64 for a,h < 2^31,
# so the SAME arithmetic runs in Spark codegen and DuckDB.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_perm: int = DEFAULT_NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation, derived from md5 at plan-build
    time — shared by the Spark plan and the SQL oracle generator."""
    out = []
    for k in range(num_perm):
        a = int(hashlib.md5(f"minhash-a#{k}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"minhash-b#{k}".encode()).hexdigest()[:15], 16)
        out.append((a % (MINHASH_P - 1) + 1, b % MINHASH_P))
    return out


def portable_hash64(col: Column, seed: str = "") -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    Spark  : conv(substring(md5(s || seed), 1, 15), 16, 10)::bigint
    DuckDB : CAST(('0x' || substr(md5(s || seed), 1, 15)) AS BIGINT)
    """
    return F.conv(F.substring(F.md5(F.concat(col, F.lit(seed))), 1, 15), 16, 10).cast(
        "long"
    )


def char_shingles(col: Column, n: int = 3) -> Column:
    """array<string> of character n-grams (whole string when shorter)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
        lambda i: F.substring(col, i, n),
    )


def word_shingles(col: Column, n: int = 3, sep: str = " ") -> Column:
    """array<string> of word n-grams."""
    toks = F.split(col, sep)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def shingle_sets(df: DataFrame, id_col: str, shingle_expr: Column) -> DataFrame:
    """(id, n, shs) — per-document DISTINCT shingle set and its size,
    computed ROW-LOCALLY (``array_distinct`` over the per-row shingle
    array): no explode, no shuffle (r6; replaces the explode → distinct →
    groupBy-collect chain, which shuffled one row per shingle TWICE to
    compute per-row values). The input is spread to cluster parallelism
    first (no-op at scale)."""
    out = (
        spread_input(df)
        .select(
            F.col(id_col).alias("id"), F.array_distinct(shingle_expr).alias("shs")
        )
        .select("id", F.size("shs").alias("n"), "shs")
    )
    return ckpt(out)


def _text_sets(df: DataFrame, id_col: str, text_col: str, shingle_expr: Column) -> DataFrame:
    """``shingle_sets`` over the rows whose text is not NULL: NULL text has
    no shingle set, so it never pairs with anything, while ``""`` stays an
    ordinary document (the winnowing contract)."""
    return shingle_sets(df.filter(F.col(text_col).isNotNull()), id_col, shingle_expr)


def minhash_signature_from_sets(
    sets_df: DataFrame, num_perm: int = DEFAULT_NUM_PERM
) -> DataFrame:
    """(id, mh0..mh{k-1}) ROW-LOCALLY from (id, …, shs) — zero shuffle (r6).

    One md5 per shingle, not per shingle×perm: permutation k is
    ``(a_k·h + b_k) mod P`` over the 60-bit base hash (``portable_hash64``
    with an empty seed) reduced mod the Mersenne prime P=2^31-1 — the
    classic universal-hash MinHash family — and k ``array_min`` folds take
    each permutation's minimum over the document's set."""
    h = F.expr(
        "transform(shs, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
        f" % {MINHASH_P}L)"
    ).alias("_hs")
    proj = sets_df.select("id", h)
    mins = [
        F.array_min(
            F.expr(f"transform(_hs, x -> ({a}L * x + {b}L) % {MINHASH_P}L)")
        ).alias(f"mh{k}")
        for k, (a, b) in enumerate(minhash_coeffs(num_perm))
    ]
    return proj.select("id", *mins)


def _lsh_bands(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band_idx, band_hash): one row per signature band, band key = md5
    of the band's ``num_perm // bands`` concatenated row hashes."""
    r = num_perm // bands
    assert r * bands == num_perm, "bands must divide num_perm"
    band_structs = []
    for b in range(bands):
        rows = [F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("_", *rows)).alias("band_hash"),
            )
        )
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("band")
    ).select("id", "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    sig: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Distinct candidate (id_a, id_b) with id_a < id_b sharing ≥1 LSH band
    (:func:`_lsh_bands`)."""
    melted = _lsh_bands(sig, num_perm, bands)
    return co_key_pairs(melted, "id", ["band_idx", "band_hash"]).select("id_a", "id_b").distinct()


#: Logical-plan node names above which spread_input must not probe
#: partitioning: ``df.rdd`` under AQE finalizes the plan and EXECUTES every
#: shuffle stage below the final one, so probing a join/agg-bearing plan
#: would silently run it twice. Wide plans are also exactly the ones whose
#: partitioning is already shuffle-sized — skipping them is both safe and
#: free. MapInPandas is excluded because repartitioning ABOVE a python map
#: mis-places the exchange (the map itself stays at scan parallelism).
_WIDE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "Repartition",
    "GlobalLimit",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow scan-shaped input to cluster
    parallelism when its plan has FEWER partitions than cores.

    Guide §2.5 'input skew': a small parquet file with a single row group
    degenerates to a 1-task scan, and every shingle/signature/digest
    computed directly above it runs serially (measured: the sf0.1 shingle
    explode spent 1.6 s in one task while 31 cores idled). At web scale the
    corpus arrives in thousands of splits, the partition count is already
    ≥ parallelism, and this is a NO-OP — the corpus is never reshuffled
    there; only a sub-parallelism input pays one narrow-column exchange.

    Inputs whose analyzed plan contains a wide node (join/agg/window/…)
    are returned UNCHANGED: their partitioning is already shuffle-sized,
    and probing them via ``.rdd`` would execute the upstream stages at
    plan-build time (under AQE, ``.rdd`` finalizes the plan and runs every
    shuffle stage below the last) — composed pipelines must not run twice.
    Only node names are matched (subquery plans included), never the plan
    text, so a column named ``JoinDate`` does not make a scan look wide.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if any(w in node.nodeName() for w in _WIDE_NODES):
                return df
            for seq in (node.children(), node.innerChildren()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if n < target else df


def exact_jaccard(
    pairs: DataFrame, sets: DataFrame, threshold: float | None = None
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact set Jaccard per candidate pair, from
    the per-id (id, n, shs) set table that ``shingle_sets`` builds.

    PPJoin-style verify (VERDICT.md round-2 item 4): the old verify joined
    ``pairs`` against every shingle of side a — |pair| × |shingles(a)|
    intermediate rows, ~10k per surviving pair on web documents. Now:

    1. optional LENGTH FILTER — J(A,B) ≥ t forces t·|A| ≤ |B| AND
       t·|B| ≤ |A|; pairs failing it are dropped after joining only the
       per-id SIZES (a tiny table), before any shingle payload moves;
    2. verify via per-id shingle ARRAYS + ``array_intersect`` size — ONE row
       per pair. A doc's array is replicated once per surviving pair it
       appears in (the standard verify cost), never exploded per shingle.

    All joins remain on ids; document bodies never shuffle, and no join or
    aggregate is keyed on shingles. The set table feeds FOUR join builds
    (a/b sizes, a/b arrays), which is why ``shingle_sets`` checkpoints it.
    Jaccard is returned unfiltered — callers apply their own ≥ t cut.
    """
    sizes = sets.select("id", "n")
    p = pairs.join(
        sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a"
    ).join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
    if threshold is not None:
        # 1e-9: the boundary |B| = t·|A| must survive FP rounding
        p = p.filter(
            (F.lit(threshold) * F.col("n_a") <= F.col("n_b") + F.lit(1e-9))
            & (F.lit(threshold) * F.col("n_b") <= F.col("n_a") + F.lit(1e-9))
        )
    arrays = sets.select("id", "shs")
    return (
        p.join(arrays.withColumnsRenamed({"id": "id_a", "shs": "shs_a"}), "id_a")
        .join(arrays.withColumnsRenamed({"id": "id_b", "shs": "shs_b"}), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle: str = "word",
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs: shingle → minhash → LSH band join → exact
    Jaccard ≥ threshold. The full MinHash+LSH dedup operator."""
    expr = (
        word_shingles(F.col(text_col), shingle_n)
        if shingle == "word"
        else char_shingles(F.col(text_col), shingle_n)
    )
    # ROW-LOCAL shape (r6): the per-doc shingle SET (array_distinct) and
    # the minhash signature (md5 pass + k array_min folds) are both pure
    # per-row expressions — the old explode → distinct → {groupBy min,
    # groupBy collect} chain shuffled one row per shingle twice to compute
    # values that never needed data from another row. The only shuffles
    # left in the whole operator are the LSH band self-join and the
    # candidate-pair verify joins — the parts that genuinely combine rows.
    # The set table is the one corpus-sized intermediate: materialized once
    # (DISK_ONLY), it feeds the signature AND both verify sides.
    sets = _text_sets(df, id_col, text_col, expr)
    sig = ckpt(minhash_signature_from_sets(sets, num_perm))
    cands = lsh_candidate_pairs(sig, num_perm, bands)
    return exact_jaccard(cands, sets, threshold).filter(
        F.col("jaccard") >= threshold
    )


def prefix_filter_candidates(shingled: DataFrame, threshold: float) -> DataFrame:
    """EXACT candidate pairs for Jaccard ≥ threshold via prefix filtering
    (the SSJoin/PPJoin inverted-index join — no all-pairs, no blocking loss).

    Order every document's shingles by a global total order (ascending
    document frequency, ties by value) and index only the first
    ``n - ⌈t·n⌉ + 1``; any pair with J ≥ t MUST share a prefix shingle:
    the smallest (in the global order) element of A∩B lies in both prefixes
    — if it lay in A's suffix then |A∩B| ≤ ⌈t|A|⌉ - 1 < t·|A| ≤ |A∩B|.
    Rare-shingles-first minimizes the inverted-index fan-out, so the hot
    posting lists the ngram-Jaccard round-1 quadratic suffered from never
    form (VERDICT.md item 3).
    """
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    df_counts = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "sh")
    prefix = (
        shingled.join(df_counts, "sh")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "id")
        .filter(
            # -1e-9: ceil must never round UP past the true integer when
            # t·n is exactly integral but its binary float lands a hair above
            # (0.1*30 = 3.0000000000000004 would shorten the prefix and lose
            # a threshold-boundary pair — ADVICE.md); the epsilon can only
            # LENGTHEN the prefix, which never costs recall
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
        )
        .select("id", "sh")
    )
    return co_key_pairs(prefix, "id", ["sh"]).select("id_a", "id_b").distinct()


def jaccard_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle: str = "word",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: shingle → prefix-filter inverted
    index (exact candidates) → exact set Jaccard ≥ threshold. Unlike the
    MinHash path this has ZERO recall loss at any threshold."""
    expr = (
        word_shingles(F.col(text_col), shingle_n)
        if shingle == "word"
        else char_shingles(F.col(text_col), shingle_n)
    )
    # r6: ONE materialization — the row-local per-doc set table. The
    # prefix-filter's (id, DISTINCT sh) inverted-index input is derived
    # from it by a plain explode (distinct BY CONSTRUCTION — the former
    # corpus-wide dedup exchange is gone), and the verify reads the set
    # arrays directly (sets=), dropping its groupBy-collect shuffle too.
    # Remaining shuffles: the document-frequency count + inverted-index
    # join inside prefix_filter_candidates and the pair-verify joins — the
    # genuinely cross-row parts of the SSJoin.
    sets = _text_sets(df, id_col, text_col, expr)
    shingled = sets.select("id", F.explode("shs").alias("sh"))
    cands = prefix_filter_candidates(shingled, threshold)
    return exact_jaccard(cands, sets, threshold).filter(
        F.col("jaccard") >= threshold
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by 128-bit digest — bodies are never shuffled.

    Returns (digest, keep_id, n_copies); join back on digest to drop dups.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    threshold: float | None = None,
    **kwargs,
) -> DataFrame:
    """End-to-end near-dup DEDUPLICATION (not just pair detection): near-dup
    pairs → connected components → every document labeled with its cluster's
    canonical (minimum) id. Filter ``is_canonical`` to keep one document per
    cluster — transitively: A~B and B~C collapse to one survivor even when
    A~C is below threshold (the standard near-dup-cluster semantics).

    ``method``: 'minhash' / 'jaccard' (``threshold`` = min Jaccard, defaults
    0.8 / 0.5), 'simhash' (keyed on ``max_hamming`` via kwargs — passing
    ``threshold`` raises rather than being silently ignored, ADVICE.md), or
    'embedding' (``text_col`` names the vector column; ``threshold`` = min
    cosine, default 0.9 — semantic dedup with the same pairs→CC→canonical
    treatment, LSH-bucketed candidates per similarity.py).

    Returns the input columns + ``keep_id`` + ``is_canonical``. The pair
    graph is tiny relative to the corpus (only near-dups appear), so the CC
    runs on edges, never on documents; the final join is left to AQE, which
    broadcasts the mapping when it is small enough (a forced broadcast hint
    could OOM on a pathologically duplicated corpus).
    """
    from .canonicalize import connected_components

    if method == "minhash":
        pairs = minhash_dup_pairs(
            df, id_col, text_col, 0.8 if threshold is None else threshold, **kwargs
        )
    elif method == "jaccard":
        pairs = jaccard_dup_pairs(
            df, id_col, text_col, 0.5 if threshold is None else threshold, **kwargs
        )
    elif method == "simhash":
        if threshold is not None:
            raise ValueError(
                "method='simhash' is keyed on max_hamming=<int> (kwargs), not "
                "threshold — a Jaccard/cosine threshold would be silently wrong"
            )
        pairs = simhash_dup_pairs(df, id_col, text_col, **kwargs)
    elif method == "embedding":
        from .similarity import embedding_neardup_pairs

        pairs = embedding_neardup_pairs(
            df,
            threshold=0.9 if threshold is None else threshold,
            id_col=id_col,
            vec_col=text_col,
            **kwargs,
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    mapping = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b", check_every=2
    ).select(F.col("node").alias(id_col), F.col("component").alias("keep_id"))
    out = df.join(mapping, id_col, "left")
    return out.withColumn(
        "keep_id", F.coalesce("keep_id", F.col(id_col))
    ).withColumn("is_canonical", (F.col("keep_id") == F.col(id_col)).cast("long"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash bigint) — 64-bit SimHash over whitespace tokens.

    Per token a portable 60-bit hash contributes ±1 to each bit position;
    the sign vector packs back into a bigint. ``text_col`` names a
    top-level column literally: it is backtick-quoted into the SQL
    expression, so dotted names and SQL keywords are safe.

    ZERO-SHUFFLE (r6, guide §2.4): the whole signature is one higher-order
    aggregate over the per-row token array — no explode, no groupBy(id)
    exchange. The former explode + 60-column groupBy shuffled one row per
    token (at web scale: ~10¹¹ rows moved to compute a per-document value
    that is a pure row-local fold); the ±1 counters are exact integer sums,
    so the fold order cannot change a single bit vs the grouped form
    (cross-checked bit-identical in tests and against the unchanged SQL
    oracle). The input is spread to cluster parallelism first (no-op at
    scale) so the per-token md5s never run serially above a 1-task scan.
    NULL text has no signature: its row is dropped.
    """
    quoted = "`" + text_col.replace("`", "``") + "`"
    df = spread_input(df).filter(F.expr(f"{quoted} IS NOT NULL"))
    hashes = (
        f"transform(split({quoted}, ' '), t -> "
        f"cast(conv(substring(md5(concat(t, '#simhash')), 1, 15), 16, 10) as bigint))"
    )
    counters = (
        f"aggregate({hashes}, array_repeat(0, 60), "
        f"(acc, h) -> zip_with(acc, sequence(0, 59), "
        f"(a, b) -> a + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))"
    )
    packed = (
        f"aggregate(zip_with({counters}, sequence(0, 59), "
        f"(c, b) -> CASE WHEN c > 0 THEN shiftleft(cast(1 as bigint), b) "
        f"ELSE cast(0 as bigint) END), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return df.select(F.col(id_col).alias("id"), F.expr(packed).alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: 4×15-bit band blocking (any pair within
    hamming ≤ 3 of 60 bits must agree on ≥1 of 4 bands), then exact
    hamming distance via xor + bit_count."""
    sig = simhash64(df, id_col, text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"(simhash >> {b * 15}) & 32767").alias("band_val"),
            )
            for b in range(4)
        ]
    )
    melted = sig.select("id", "simhash", F.explode(bands).alias("bd")).select(
        "id", "simhash", "bd.band_idx", "bd.band_val"
    )
    pairs = co_key_pairs(melted, "id", ["band_idx", "band_val"]).select(
        "id_a", "id_b", F.expr("bit_count(simhash_a ^ simhash_b)").alias("hamming")
    )
    return pairs.distinct().filter(F.col("hamming") <= max_hamming)


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-wide paragraph deduplication (Wenzek et al. 2020
    §3.1): split every document into ``sep``-delimited paragraphs, keep only
    the FIRST corpus-order occurrence (min (doc_id, pos)) of each distinct
    paragraph, and reassemble documents from their surviving paragraphs.
    Web boilerplate (nav bars, cookie banners, footers) repeats across
    millions of pages; dropping repeated paragraphs is the standard first
    cleaning pass of CCNet/RefinedWeb-class pipelines.

    Returns (id_col, text_dedup, n_lines, n_dropped) — one row per input
    document (a fully-boilerplate document survives with text_dedup = '').

    Scale shape (100 TB): one explode (no shuffle); winner-per-paragraph is
    a groupBy(md5 key) with a map-side-combinable min(struct) — partial
    aggregation absorbs the hot boilerplate keys BEFORE the shuffle, which
    is why this is an agg + join-back rather than a row_number() window
    (a window would sort every occurrence of a viral paragraph inside one
    partition: unboundedly skewed); the join-back probes on the same key
    (AQE skew-join splits any residual hot partition); reassembly is one
    groupBy(doc) of (pos, line) structs. Keys are full 128-bit md5 so the
    SQL oracle groups on the identical value — no truncation collisions.
    The exploded paragraph table feeds both the winner agg and the probe
    side, so it is checkpointed once (the round-3 materialize-once rule).
    """
    lines = (
        spread_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
        )
        .withColumn("key", F.md5(F.col("line")))
    )
    lines = ckpt(lines)
    winners = lines.groupBy("key").agg(
        F.min(F.struct("id", "pos")).alias("w")
    )
    kept = lines.join(winners, "key").withColumn(
        "keep",
        (F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos")),
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct(F.col("pos"), F.col("line")))
                )
            ).alias("surv"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(sep, F.transform(F.col("surv"), lambda s: s.line)).alias(
                "text_dedup"
            ),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.col("n_kept")).cast("long").alias("n_dropped"),
        )
    )


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.05,
) -> DataFrame:
    """Training-set decontamination against an evaluation benchmark
    (GPT-3 appendix C / Llama-2 style): flag any training document whose
    word ``n``-grams overlap the benchmark's n-gram set above ``threshold``
    (fraction of the document's distinct n-grams that appear in ANY
    benchmark document).

    Returns (id_col, n_grams, n_matched, contam_frac, contaminated) — one
    row per training document.

    Scale shape (100 TB): eval benchmarks are tiny (MBs) next to the
    training corpus, so the benchmark n-gram set is BROADCAST — the whole
    operator is then a single map-side pass over the corpus: per-doc
    n-grams are deduped locally (array_distinct before explode — no
    per-doc distinct shuffle), the broadcast hash join tags matches, and
    one groupBy(doc) shuffles only (id, counts). No all-pairs, nothing
    keyed on gram strings ever shuffles.
    """
    bench_grams = (
        bench_df.select(
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), n))
            ).alias("g")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n))).alias("g"),
    )
    tagged = grams.join(F.broadcast(bench_grams), "g", "left")
    return (
        tagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_matched"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_matched").cast("long").alias("n_matched"),
            F.round(F.col("n_matched") / F.col("n_grams"), 6).alias("contam_frac"),
            (F.col("n_matched") / F.col("n_grams") >= threshold)
            .cast("int")
            .alias("contaminated"),
        )
    )


def latest_by_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """SCD-1 compaction: one row per key — the LATEST by ``ts_col`` (ties
    broken by ``tiebreak_col``, so the winner is total-ordered and
    deterministic). The crawl-maintenance op: keep the newest snapshot per
    url, the newest event per (user, type).

    Implemented as a struct-MAX aggregation, not a window: ``max(struct(ts,
    tiebreak, payload...))`` is map-side combinable (partial aggregation
    per input partition, tiny shuffle of one candidate per key per
    partition), where the row_number-window form must shuffle EVERY row to
    its key's partition and sort it. Same winner, a fraction of the
    shuffle — the difference between compacting 100 TB and not."""
    w = F.max(
        F.struct(ts_col, tiebreak_col, *payload_cols)
    ).alias("_w")
    out = df.groupBy(*key_cols).agg(w)
    cols = [F.col(f"_w.{c}").alias(c) for c in (ts_col, tiebreak_col, *payload_cols)]
    return out.select(*key_cols, *cols)


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicate-span removal (Lee et al., *Deduplicating
    Training Data Makes Language Models Better*, ACL 2022): any run of
    ``length`` consecutive word tokens that occurs more than once in the
    corpus is a duplicate; every occurrence EXCEPT the first in corpus
    order (min (doc_id, pos)) is removed, token-wise, and documents are
    reassembled from their surviving tokens. This is the substring-level
    complement to :func:`paragraph_dedup` (paragraph granularity) and
    :func:`minhash_dedup` (whole-document granularity) — the three
    granularities of the standard LLM-corpus dedup stack.

    Returns (id_col, text_dedup, n_tokens, n_dup_tokens) — one row per
    input document.

    Scale shape (100 TB): Lee et al. build a monolithic suffix array; the
    distributed re-expression is a rolling ``length``-gram table (one
    md5/position, pure codegen, no shuffle) feeding the SAME
    map-side-combinable min(struct) winner agg as paragraph_dedup —
    partial aggregation absorbs viral grams (boilerplate repeated 10^6×)
    before the shuffle, and the join-back probes on the gram key
    (AQE-splittable). Token-level rows are materialized ONLY for
    duplicate occurrences (the ``length``-fold position explode happens
    after the rn>1 filter), so the expensive leg is proportional to the
    duplicated mass, not the corpus. The gram table feeds both the winner
    agg and the probe side → checkpointed once (materialize-once rule).
    Reference tie-in: the reference has no substring dedup (set()-based
    exact only, predict.py:144-154); engine-new per the training-data
    mandate.
    """
    df = spread_input(df)
    L = int(length)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("w"),
    ).withColumn("n_tok", F.size("w"))
    toks = ckpt(toks)

    grams = toks.filter(F.col("n_tok") >= L).select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n_tok - {L}),"
                f" i -> md5(array_join(slice(w, i + 1, {L}), ' ')))"
            )
        ).alias("pos", "key"),
    )
    grams = ckpt(grams)

    winners = grams.groupBy("key").agg(F.min(F.struct("id", "pos")).alias("wn"))
    dup_occ = grams.join(winners, "key").filter(
        (F.col("id") != F.col("wn.id")) | (F.col("pos") != F.col("wn.pos"))
    )
    covered = dup_occ.select(
        "id", F.explode(F.expr(f"sequence(pos, pos + {L - 1})")).alias("tok")
    ).distinct()

    tokens = toks.select("id", F.posexplode("w").alias("tok", "word"))
    marked = tokens.join(
        covered.withColumn("dup", F.lit(1)), ["id", "tok"], "left"
    )
    return (
        marked.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("dup").isNull(), F.struct(F.col("tok"), F.col("word")))
                )
            ).alias("surv"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).alias("n_dup"),
        )
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(" ", F.transform(F.col("surv"), lambda s: s.word)).alias(
                "text_dedup"
            ),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_dup").cast("long").alias("n_dup_tokens"),
        )
    )


def incremental_minhash_dedup(
    new: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-dup dedup of a NEW crawl batch against an EXISTING
    corpus index — the production shape of web-scale dedup: the 100 TB
    index is never re-deduped; each incoming batch is probed against it
    (and against itself, first-occurrence-wins) and only novel documents
    are admitted. CCNet/RefinedWeb-class pipelines run exactly this loop
    per crawl snapshot.

    Returns one row per NEW document: (id_col, keep, dup_of, jaccard) —
    ``keep`` false iff some partner (an index document, or a smaller-id
    new document) has exact shingle-Jaccard ≥ ``threshold``; ``dup_of`` is
    the highest-Jaccard such partner (ties → min id), NULL when kept.

    Scale shape (100 TB index, ~TB batch): candidate generation is the
    banded equi-join of the BATCH's band table against the UNION of index
    and batch band tables — the index side never self-joins, so the
    quadratic old×old work that a full re-dedup would pay never happens.
    In production the index band/signature table is a stored artifact
    (written by previous batches — here recomputed from ``index`` because
    the sandbox has no persistent store, one extra linear pass); the probe
    then touches only band-colliding index rows. Verification is the same
    PPJoin-style exact-Jaccard as :func:`minhash_dup_pairs` (length filter
    before arrays move, bodies never shuffle), restricted by semi-join to
    partner documents that actually collided.
    """
    expr = word_shingles(F.col(text_col), shingle_n)
    # row-local sets + signatures (r6): no shingle-keyed shuffle anywhere
    # in the incremental loop either (see minhash_dup_pairs)
    sets_new = _text_sets(new, id_col, text_col, expr)
    sets_idx = _text_sets(index, id_col, text_col, expr)
    sig_new = minhash_signature_from_sets(sets_new, num_perm)
    sig_idx = minhash_signature_from_sets(sets_idx, num_perm)

    probe = _lsh_bands(sig_new, num_perm, bands)
    # the index side of the join: stored-index bands ∪ the batch's own
    # bands (in-batch dups suppress by smaller id — first occurrence wins)
    build = _lsh_bands(sig_idx, num_perm, bands).withColumn("is_idx", F.lit(True)).unionByName(
        probe.withColumn("is_idx", F.lit(False))
    )
    cands = (
        probe.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("b.is_idx") | (F.col("b.id") < F.col("a.id"))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verify over the union of the per-id set tables (partner may be
    # new or index; exact_jaccard's semi-joins pull only colliding ids'
    # arrays). The id spaces are disjoint, so the union IS a valid per-id
    # table.
    sets_all = sets_new.unionByName(sets_idx)
    jac = exact_jaccard(cands, sets_all, threshold).filter(
        F.col("jaccard") >= threshold
    )
    w = Window.partitionBy("id_a").orderBy(F.col("jaccard").desc(), F.col("id_b"))
    best = (
        jac.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_a").alias("id"),
            F.col("id_b").alias("dup_of"),
            F.round(F.col("jaccard"), 6).alias("jaccard"),
        )
    )
    return (
        new.select(F.col(id_col).alias("id"))
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            "jaccard",
        )
    )


def host_mirror_pairs(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    max_hosts_per_digest: int = 20,
) -> DataFrame:
    """Mirror-host detection (engine-new; the host-level complement to
    document dedup): two hosts serving copies of the same pages — true
    mirrors, scraped re-hosts, CDN aliases — show up as content-digest
    overlap. Per ordered host pair sharing ≥1 exact-content digest, emit

        (host_a, host_b, shared, n_a, n_b, jaccard)

    where ``jaccard`` is over the hosts' distinct digest sets. Crawl
    operators use this to collapse mirrors BEFORE fetch scheduling (one
    mirror fetched, the rest skipped) — at Common-Crawl scale mirrors are
    a top-10 source of wasted fetches and duplicate training text.

    Skew rule (the prefix-filter/stop-word analog): a digest present on
    more than ``max_hosts_per_digest`` hosts is template boilerplate, not
    mirroring — ``materialize.cap_blocks`` EXCLUDES it before the pair
    join (see ``co_key_pairs`` for what an uncapped block costs: a cookie
    banner on 10^6 hosts would emit 10^12 pairs), which also removes the
    false-positive signal. The per-host digest sets are counted AFTER the
    exclusion, over the same capped table the pairs come from, so
    ``n_a``/``n_b`` count only digests that could be shared. NULL text has
    no digest and counts on no host.

    Scale shape: ONE capped distinct (host, digest) projection,
    checkpointed, is the only corpus-size pass; the pair join is
    digest-keyed, the aggregations map-side combinable.
    """
    hd = ckpt(
        cap_blocks(
            df.select(F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("dg")),
            ["dg"],
            max_hosts_per_digest,
        )
    )
    sz = hd.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    sh = (
        co_key_pairs(hd, "host", ["dg"])
        .groupBy(F.col("id_a").alias("host_a"), F.col("id_b").alias("host_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        sh.join(sz.withColumnRenamed("host", "host_a").withColumnRenamed("n", "n_a"), "host_a")
        .join(sz.withColumnRenamed("host", "host_b").withColumnRenamed("n", "n_b"), "host_b")
        .select(
            "host_a", "host_b", "shared", "n_a", "n_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


def dup_profile(labeled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus duplication profile (engine-new): the near-dup cluster-size
    histogram a curation run reports before choosing what to drop. Input is
    ``dedup_documents`` output (every row labeled with its cluster's
    ``keep_id``); output is one row per observed cluster size:

        (cluster_size, n_clusters, n_docs, n_excess)

    ``n_excess`` = docs beyond one survivor per cluster — summed over rows
    it is exactly the token mass deduplication would remove, the number a
    100 TB curation report leads with (CCNet/RefinedWeb both publish this
    curve). Scale shape: two map-side-combinable count aggregations over
    (id, keep_id) pairs — document bodies are never touched, and the second
    groupBy runs on the k distinct sizes.
    """
    sizes = labeled.groupBy("keep_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - F.lit(1)) * F.col("n_clusters"))
            .cast("long")
            .alias("n_excess"),
        )
    )


def jaccard_threshold_sweep(pairs: DataFrame, buckets: int = 10) -> DataFrame:
    """Threshold-tuning sweep (engine-new): bucket an exact-Jaccard pair
    table into ``buckets`` similarity bands and report, per band, the pair
    count and the cumulative count at-or-above the band — i.e. how many
    near-dup pairs each candidate threshold would act on. ONE pass over the
    pair table answers every threshold question; re-running the similarity
    join per candidate threshold (the naive approach) costs a corpus-scale
    join each time.

    ``jaccard`` is a ratio of integers computed identically in both engines
    (IEEE double division), so ``floor(j·buckets)`` is bitwise portable; an
    exact 1.0 lands in the top band (right-closed last bucket). The
    cumulative window runs over ``buckets`` rows — a k-row frame, same
    budget as the checkpointed stratum tables in compose.py.
    """
    b = F.least(
        F.floor(F.col("jaccard") * buckets), F.lit(buckets - 1)
    ).cast("long")
    hist = (
        pairs.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hist.select(
        "bucket",
        F.round(F.col("bucket") / buckets, 6).alias("threshold"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    ).orderBy("bucket")


def boilerplate_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
    n: int = 5,
    min_hosts: int = 3,
) -> DataFrame:
    """Cross-host repeated n-gram mining (engine-new): the STOP-GRAM
    producer. A word n-gram appearing on ≥ ``min_hosts`` distinct hosts is
    template boilerplate (cookie banners, nav chrome, footers), not
    content — the table this emits is what ``host_mirror_pairs``'s
    stop-digest rule and decontamination gram filters presuppose, and what
    CCNet-style pipelines strip before LM scoring. Output per surviving
    gram: (gram, n_hosts, n_docs, n_occurrences).

    Scale shape: ONE corpus-size (id, host, gram) explode, checkpointed,
    feeds all three aggregations (occurrence count map-side combinable;
    host/doc distincts partially deduped map-side). The host filter runs
    BEFORE the joins, so only the tiny boilerplate survivor set — not the
    full gram vocabulary — participates in the gram-keyed joins (AQE
    broadcasts it).
    """
    df = spread_input(df)
    grams = ckpt(
        df.select(
            F.col(id_col).alias("id"),
            F.col(host_col).alias("host"),
            F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
        )
    )
    hosts = (
        grams.select("gram", "host").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"))
        .filter(F.col("n_hosts") >= min_hosts)
    )
    docs = (
        grams.select("gram", "id").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    occ = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    return (
        hosts.join(docs, "gram").join(occ, "gram")
        .select("gram", "n_hosts", "n_docs", "n_occurrences")
    )
