"""Dataset composition (engine-new): the two operations that turn a cleaned
corpus into a training mixture — deterministic stratified downsampling to
target per-stratum rates (language/domain reweighting, e.g. the mixture
tables in GPT-3 / LLaMA data recipes) and GPT-style concat-and-chunk
sequence packing (documents concatenated in a stable order and cut into
fixed token-budget sequences for the trainer).

Both are pure-codegen, shuffle-minimal, and exactly reproducible:

- ``mixture_sample`` keeps a document iff its portable 60-bit hash falls
  below ``rate × 2^60`` — the threshold integer is computed once at
  plan-build time, so the runtime decision is a BIGINT comparison with
  zero float involvement and is bit-identical across engines, runs, and
  retries (the resumability story: a re-run keeps the
  same documents). One map-side filter over the scan; no shuffle at all.

- ``pack_sequences`` assigns each document to a hash shard, orders within
  the shard by id, and computes the running token total with ONE window
  cumsum per shard partition — no global sort, no driver state. Sequence
  ids are ``running_total // budget``, so a document's placement depends
  only on its shard's content: shards repack independently and in parallel
  (the 100 TB shape — a real run uses thousands of shards, one trainer
  file per shard).

Scale notes: sampling is embarrassingly parallel; packing's only shuffle is
the hash repartition by shard, and the window is evaluated per-shard with
no skew risk beyond shard-count choice (shards are uniform by hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import ckpt
from .dedup import portable_hash64

#: denominator of the exact-rate comparison: hash < rate * 2^60
HASH_SPACE = 1 << 60


def exact_threshold(rate: float) -> int:
    """``rate × 2^60`` as an integer, computed ONCE here at plan-build time
    and embedded as a literal in both the Spark plan and the SQL oracle —
    so the runtime sampling decision is a pure BIGINT comparison with no
    float arithmetic in either engine, for ANY rate value. (Every IEEE
    double is a dyadic rational, so the product is exactly integral
    whenever rate ≥ 2^-60; the kept fraction equals the double's exact
    value, within 2^-53 of the decimal the caller wrote.)"""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate {rate!r} outside [0, 1]")
    return int(rate * HASH_SPACE)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "|mix",
) -> DataFrame:
    """Keep each row of stratum s with probability ``rates[s]`` —
    deterministically, via hash(id) < rate·2^60. Strata absent from
    ``rates`` use ``default_rate`` (0 = drop)."""
    h = portable_hash64(F.col(id_col).cast("string"), seed)
    thr = F.lit(exact_threshold(default_rate))
    for s, r in rates.items():
        thr = F.when(F.col(stratum_col) == s, F.lit(exact_threshold(r))).otherwise(thr)
    return df.filter(h < thr)


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "|shard",
) -> DataFrame:
    """(id, shard, n_tokens, tok_start, seq_first, seq_last): concat-and-
    chunk packing — within each hash shard, documents are concatenated in
    ``id`` order and cut every ``budget`` tokens; a document occupies
    sequences ``seq_first..seq_last`` of its shard (straddling is the
    GPT-style norm). Token count = whitespace tokens."""
    t = docs.select(
        F.col(id_col),
        (portable_hash64(F.col(id_col).cast("string"), seed) % n_shards)
        .cast("int")
        .alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return c.select(
        id_col,
        "shard",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("tok_start"),
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("seq_first"),
        F.floor((F.col("cum") - 1) / F.lit(budget)).cast("long").alias("seq_last"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    n: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``n`` rows per group, deterministically (the first ``n``
    by ``order_col``) — the Gopher/C4-style per-domain cap that stops a few
    giant hosts from dominating the mixture.

    Scale shape: one hash shuffle keyed by the group + a bounded per-group
    sort; the cap means at most ``n`` rows per group survive the window, so
    the output of any group is bounded regardless of host skew. (For
    pathological single-host skew the window sort itself is the bottleneck;
    a real deployment caps after a cheap pre-filter like
    ``mixture_sample`` to shrink viral hosts first.)"""
    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "|split",
) -> DataFrame:
    """Adds a ``split`` column assigning each row to exactly one named
    fraction — the deterministic train/val/test partition. Unlike
    ``mixture_sample`` (independent keep-decisions), this is a DISJOINT
    EXHAUSTIVE partition of the hash space into consecutive ranges:
    fractions {train: .9, val: .05, test: .05} map hash60(id) into
    [0, .9·2^60) → train, [.9·2^60, .95·2^60) → val, the rest → test.

    Properties a training pipeline needs, all by construction: every row
    lands in exactly one split; membership is a pure function of the id
    (stable across reruns, engines, and corpus growth — a doc never
    migrates between splits when other docs are added); the cut points are
    integers fixed at plan build, so the runtime decision is a BIGINT
    range check. Fractions must sum to 1 (±1e-9); the LAST named split
    absorbs the hash-space remainder so coverage is exhaustive."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total!r}, expected 1.0")
    if not fractions:
        raise ValueError("need at least one split")
    h = portable_hash64(F.col(id_col).cast("string"), seed)
    names = list(fractions)
    bounds: list[int] = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        bounds.append(exact_threshold(min(acc, 1.0)))
    # nested CASE, innermost = last split: WHEN h < b1 THEN n1 ELSE
    # (WHEN h < b2 THEN n2 ELSE ... last) — first matching range wins
    expr = F.lit(names[-1])
    for name, b in list(zip(names[:-1], bounds))[::-1]:
        expr = F.when(h < F.lit(b), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


#: boundary-avoiding offset added to data-derived keep rates AFTER the
#: round(·, 9) quantization: an exact binary fraction (2^-36 ≈ 1.46e-11)
#: far above cross-engine float-sum noise and far below the 1e-9 grid
#: pitch, so hash-threshold comparisons never land on a value the two
#: engines could quantize apart (the kge.QUANT_EPS rationale).
RATE_EPS = 2.0 ** -36


def temperature_mixture(
    df: DataFrame,
    tau: float = 0.5,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "|tmix",
) -> DataFrame:
    """Temperature-based mixture sampling: rebalance strata toward
    q_s ∝ p_s^tau (the multilingual/domain rebalancing rule of
    CCNet / XLM-R / the LLaMA data mixture; tau < 1 upsamples the tail),
    realized as SUBSAMPLING ONLY — per-stratum keep rate

        r_s = (q_s / p_s) / max_t (q_t / p_t)

    so the stratum with the highest boost keeps every row (rate 1) and no
    row is ever duplicated. Unlike :func:`mixture_sample` (caller-fixed
    rate literals), the rates here are DERIVED FROM THE CORPUS — the
    stratum-count aggregation, normalizations and the max are all computed
    as tiny DataFrames and broadcast back; no driver collect.

    The per-row keep decision reuses the portable 60-bit hash:
    keep iff hash60(id) < r_s·2^60, with r_s quantized to 9 decimals plus
    :data:`RATE_EPS` in BOTH engines. pow/float-sum 1-ulp engine
    differences are absorbed by the quantization except exactly on a
    0.5e-9 rounding boundary (the kge trajectory caveat — a mitigation,
    not a guarantee; observed exact at the tested scale factors).

    Returns the kept rows as (id, stratum, rate), rate rounded to 6.

    Scale shape (100 TB): one map-side-combinable stratum count over the
    corpus; everything derived from it is k rows (k = #strata), combined
    via broadcast crossJoins of 1-row aggregates (the no-collect loop
    idiom); the keep filter is a broadcast equi-join + codegen comparison —
    the corpus is never shuffled.
    """

    # the stratum counts feed FIVE derivations (total, shares, Z, max,
    # rates) — checkpoint the k-row table once so none of them replays the
    # corpus aggregation (the recompute-bug class the plan pins exist for)
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n"))
    counts = ckpt(counts)
    tot = counts.agg(F.sum("n").cast("double").alias("n_tot"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, (F.col("n") / F.col("n_tot")).alias("p")
    )
    w = shares.select(
        stratum_col, "p", F.pow(F.col("p"), F.lit(float(tau))).alias("w")
    )
    z = w.agg(F.sum("w").alias("w_tot"))
    ratio = w.crossJoin(F.broadcast(z)).select(
        stratum_col, (F.col("w") / F.col("w_tot") / F.col("p")).alias("ratio")
    )
    mx = ratio.agg(F.max("ratio").alias("mr"))
    rates = ratio.crossJoin(F.broadcast(mx)).select(
        stratum_col,
        (F.round(F.col("ratio") / F.col("mr"), 9) + F.lit(RATE_EPS)).alias("rate"),
    )
    h = portable_hash64(F.col(id_col).cast("string"), seed).cast("double")
    kept = df.join(F.broadcast(rates), stratum_col).filter(
        h < F.col("rate") * F.lit(float(HASH_SPACE))
    )
    return kept.select(
        id_col, stratum_col, F.round(F.col("rate"), 6).alias("rate")
    )


def chunk_tokens(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG-ingestion / long-document
    training split: chunk k of a document covers whitespace tokens
    [k·stride, k·stride + window), for k = 0 .. floor((n-1)/stride), so
    every token is covered, consecutive chunks overlap by
    ``window - stride`` tokens, and the last chunk may be short (never
    empty). stride == window gives :func:`pack_sequences`-style disjoint
    chunks; stride < window is the retrieval-friendly overlap.

    Output: (id, chunk_id, n_chunk_tokens, chunk) — one row per chunk,
    chunk re-joined with single spaces.

    Scale shape: pure codegen (split / sequence / slice / posexplode) —
    a zero-shuffle map operator; output size is input tokens ×
    window/stride, the caller's knob.
    """
    from .dedup import spread_input

    df = spread_input(df)
    if not 1 <= stride <= window:
        raise ValueError(f"need 1 <= stride <= window, got {stride}/{window}")
    t = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    return t.select(
        id_col,
        F.size("toks").alias("n"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(toks) - 1) div {stride}),"
                f" k -> array_join(slice(toks, k * {stride} + 1, {window}), ' '))"
            )
        ).alias("chunk_id", "chunk"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.least(F.lit(window), F.col("n") - F.col("chunk_id") * stride)
        .cast("int")
        .alias("n_chunk_tokens"),
        "chunk",
    )


def mixture_plan(
    df: DataFrame,
    tau: float = 0.5,
    stratum_col: str = "lang",
    max_epochs: float = 4.0,
) -> DataFrame:
    """The data-recipe table: for a target distribution q ∝ p^tau over a
    SAME-SIZE resampled corpus, each stratum's multiplicative factor is
    ratio = q/p — strata with ratio ≤ 1 are subsampled at that rate,
    strata with ratio > 1 are REPEATED (fractional epochs, the
    LLaMA-recipe form: "Wikipedia 2.45 epochs"), clipped at ``max_epochs``
    (repeating a tiny domain too often memorizes it — the D4/Muennighoff
    repetition-harm bound).

    Output per stratum: (stratum, n, p, q, keep_rate, epochs, clipped) —
    keep_rate = min(ratio, 1), epochs = min(ratio, max_epochs), all
    fractions rounded to 6. This PLANS the mixture;
    :func:`temperature_mixture` EXECUTES the subsample side row-by-row
    (with its subsample-only normalization), and repetition is a
    dataloader concern.

    Scale shape: one map-side-combinable stratum count (checkpointed),
    then k-row arithmetic with 1-row broadcast normalizers — no collect,
    nothing corpus-sized after the count.
    """

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n"))
    counts = ckpt(counts)
    tot = counts.agg(F.sum("n").cast("double").alias("n_tot"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, "n", (F.col("n") / F.col("n_tot")).alias("p")
    )
    w = shares.select(
        stratum_col, "n", "p", F.pow(F.col("p"), F.lit(float(tau))).alias("w")
    )
    z = w.agg(F.sum("w").alias("w_tot"))
    r = w.crossJoin(F.broadcast(z)).select(
        stratum_col,
        "n",
        "p",
        (F.col("w") / F.col("w_tot")).alias("q"),
        (F.col("w") / F.col("w_tot") / F.col("p")).alias("ratio"),
    )
    return r.select(
        stratum_col,
        "n",
        F.round(F.col("p"), 6).alias("p"),
        F.round(F.col("q"), 6).alias("q"),
        F.round(F.least(F.col("ratio"), F.lit(1.0)), 6).alias("keep_rate"),
        F.round(F.least(F.col("ratio"), F.lit(float(max_epochs))), 6).alias("epochs"),
        (F.col("ratio") > float(max_epochs)).alias("clipped"),
    )
