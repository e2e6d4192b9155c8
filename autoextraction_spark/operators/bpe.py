"""Distributed byte-pair-encoding tokenizer training (engine-new).

The reference consumes a pretrained WordPiece/BPE tokenizer
(``Environment.py:56-62`` loads ``BertTokenizerFast``); a production
LLM-data pipeline also has to *train* that tokenizer over the curated
corpus. This module is the engine's sixth distributed trainer (after the
quality-classifier GD, fitted-Q, TransE, DistMult/ComplEx, and k-means):
corpus-level BPE merge learning (Sennrich, Haddow & Birch, *Neural Machine
Translation of Rare Words with Subword Units*, ACL 2016) expressed as a
fixed number of DataFrame rounds.

Algorithm (classic word-level BPE):

1. word vocabulary: whitespace words with corpus frequencies — the ONLY
   corpus-size aggregation; every later round runs over the (distinct-word)
   vocabulary table, which is orders of magnitude smaller than the corpus.
2. each word becomes a symbol sequence — its characters space-separated,
   plus a terminal ``</w>`` symbol (the paper's end-of-word marker).
3. per merge step: count adjacent symbol pairs weighted by word frequency,
   pick the most frequent pair (ties broken by lexicographic pair order —
   a deterministic, engine-independent rule), and rewrite every vocabulary
   entry with the pair fused into one symbol.

Merge application is pure codegen: the symbol sequence is a space-joined
string, so fusing pair ``"a b"`` is ``replace(' '||r||' ', ' a b ', ' ab ')``
— literal, left-to-right, non-overlapping in BOTH engines (Java
``StringUtils.replace`` under Spark's ``replace``; DuckDB ``replace``).
Because a match consumes its trailing space, one pass merges every OTHER
occurrence inside a run of the same pair (``a b a b`` → ``ab a b``); the
rewrite therefore applies THREE passes per step, which resolves runs of up
to 8 consecutive occurrences of the merged pair inside one word — beyond
that this implementation deviates from canonical greedy BPE (documented
deviation; natural-language words do not approach 8 repeats of one pair,
and both engines compose the identical passes, so cross-engine parity is
exact regardless).

Determinism: the whole trainer is integer counts and string rewrites — no
floats anywhere, so unlike the numeric trainers it needs NO quantization
(``QUANT_EPS``) and the oracle match is bitwise by construction.

Scale shape (100 TB):
- the corpus is touched ONCE (the word-frequency groupBy, map-side
  combinable); all ``n_merges`` rounds iterate over the distinct-word
  vocabulary (~10^8 rows for a web corpus), checkpointed DISK_ONLY per
  round so no round replays upstream lineage;
- pair counting per round = one explode of adjacent pairs + one partially
  aggregated groupBy(pair) — shuffle keyed by pair string, AQE-splittable;
- the winning pair is selected with ``orderBy(cnt desc, pair).limit(1)``
  (TakeOrderedAndProject — a per-partition top-1 + single-row exchange,
  NOT a full sort) and fed back as a broadcast one-row DataFrame: there is
  no driver-side ``collect`` in the loop;
- the merge rewrite is whole-stage-codegen string replace over the
  vocabulary — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..materialize import ckpt, ckpt_stats

#: end-of-word marker symbol (Sennrich et al. 2016 §3.2)
END_OF_WORD = "</w>"

#: replace passes per merge step; resolves same-pair runs of length ≤ 2^3
_REWRITE_PASSES = 3


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) whitespace-word vocabulary — the one corpus-size pass."""
    words = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _symbolize(word: Column) -> Column:
    """word -> space-separated character symbols + the ``</w>`` marker."""
    return F.concat(
        F.trim(F.regexp_replace(word, "(.)", "$1 ")), F.lit(" " + END_OF_WORD)
    )


def _adjacent_pairs(vocab: DataFrame) -> DataFrame:
    """(pair, cnt) adjacent-symbol counts weighted by word frequency."""
    pairs = vocab.select(
        "freq", F.split(F.col("r"), " ").alias("w")
    ).select(
        "freq",
        # the CASE guards fully-fused single-symbol words: Spark's
        # sequence(1, 0) DESCENDS ([1, 0]) instead of being empty
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> concat(w[i-1], ' ', w[i]))"
                " ELSE array() END"
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))


def _apply_merge(repr_col: Column, pair_col: Column) -> Column:
    """Fuse ``pair`` everywhere in the padded symbol string (3 passes)."""
    merged = F.replace(pair_col, F.lit(" "), F.lit(""))
    pat = F.concat(F.lit(" "), pair_col, F.lit(" "))
    rep = F.concat(F.lit(" "), merged, F.lit(" "))
    s = F.concat(F.lit(" "), repr_col, F.lit(" "))
    for _ in range(_REWRITE_PASSES):
        s = F.replace(s, pat, rep)
    return F.trim(s)


def _bpe_loop(
    df: DataFrame, n_merges: int, text_col: str
) -> tuple[list[DataFrame], DataFrame]:
    """Run the merge loop; return (per-step 1-row best DFs, final vocab)."""
    vocab = ckpt(
        word_vocab(df, text_col).select(
            "word", _symbolize(F.col("word")).alias("r"), "freq"
        )
    )
    steps: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        best, stats = ckpt_stats(
            _adjacent_pairs(vocab)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1),
            StorageLevel.DISK_ONLY,
            [F.count(F.lit(1)).alias("n")],
        )
        if stats["n"] == 0:  # every word fused to one symbol already
            raise ValueError(
                f"BPE merge {step}: no adjacent pairs remain — lower "
                f"n_merges (requested {n_merges})"
            )
        steps.append(best.withColumn("step", F.lit(step)))
        vocab = ckpt(
            vocab.crossJoin(
                F.broadcast(best.select(F.col("pair").alias("_p")))
            ).select(
                "word", _apply_merge(F.col("r"), F.col("_p")).alias("r"), "freq"
            )
        )
    return steps, vocab


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Learn the merge table: (step, pair, merged, cnt) for each merge, in
    learning order — the model artifact a BPE tokenizer deploys."""
    steps, _ = _bpe_loop(df, n_merges, text_col)
    out = steps[0]
    for s in steps[1:]:
        out = out.union(s)
    return out.select(
        "step",
        "pair",
        F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
        "cnt",
    )


def bpe_subword_vocab(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Deploy view: apply the learned merges to the word vocabulary and
    return the resulting subword inventory with corpus frequencies —
    (token, freq, n_words) where n_words = distinct words containing the
    token. This is the table a tokenizer ships as ``vocab.json``."""
    _, vocab = _bpe_loop(df, n_merges, text_col)
    toks = vocab.select(
        "freq", F.explode(F.split(F.col("r"), " ")).alias("token")
    )
    return toks.groupBy("token").agg(
        F.sum("freq").alias("freq"), F.count(F.lit(1)).alias("n_words")
    )


def bpe_fertility(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility per stratum — THE tokenizer-quality diagnostic
    for multilingual corpora (avg subword tokens per whitespace word;
    fertility ≫ 1 for a language means the merges under-serve it and its
    documents cost proportionally more sequence length). Trains the merges
    on the WHOLE corpus, then evaluates per stratum:

        fertility(s) = Σ_w n_s(w) · |segments(w)|  /  Σ_w n_s(w)

    ``|segments(w)|`` counts the symbols of the word's final representation
    (an unmerged terminal ``</w>`` counts as a symbol — documented
    convention, identical in both engines). Output: (stratum, n_words,
    n_subwords, fertility), fertility rounded to 6.

    Scale shape: the word→segment-count mapping is the (already
    checkpointed) trained vocabulary — evaluation is ONE word-keyed
    equi-join of the per-stratum word counts against it plus a k-row
    aggregation; the corpus is scanned once more for the stratum counts.
    """
    _, vocab = _bpe_loop(df, n_merges, text_col)
    mapping = vocab.select(
        "word", F.size(F.split(F.col("r"), " ")).cast("long").alias("n_sub")
    )
    words = df.select(
        F.col(stratum_col).alias("stratum"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).filter(F.col("word") != "")
    per = words.groupBy("stratum", "word").agg(F.count(F.lit(1)).alias("n"))
    j = per.join(mapping, "word")
    return j.groupBy("stratum").agg(
        F.sum("n").alias("n_words"),
        F.sum(F.col("n") * F.col("n_sub")).alias("n_subwords"),
        F.round(
            F.sum(F.col("n") * F.col("n_sub")) / F.sum("n"), 6
        ).alias("fertility"),
    )
