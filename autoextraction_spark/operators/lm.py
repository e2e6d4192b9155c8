"""Bigram-LM perplexity scoring (engine-new): CCNet's actual quality signal
(Wenzek et al. 2020 §3.3 score every crawl document by the perplexity of a
language model trained on the reference corpus; low perplexity ≈ reference-
like prose). The reference repo stops at extraction (no corpus-quality
model); this operator pairs with ``operators/classifier.py`` to give the
engine both of the standard corpus-quality signals.

Stand-in model matching this sandbox (no KenLM): an add-k-smoothed bigram
LM over whitespace tokens,

    p(w2 | w1) = (c(w1, w2) + k) / (c(w1) + k·V)

trained on the reference subset and applied to every document as

    ppl(doc) = 2 ^ ( - avg over bigrams of log2 p(w2|w1) ).

Unseen continuations and unseen histories fall out of the same formula with
the counts coalesced to 0 (p = k/(k·V) = 1/V for an unseen history), so the
SQL oracle can mirror the expression term-for-term. ``k`` defaults to 0.5 —
an exact binary fraction, so the literal is bit-identical across engines.

Scale shape (100 TB):
- the reference-token explode is materialized ONCE (DISK_ONLY checkpoint);
  unigram counts, bigram counts, and the vocab size all derive from that
  single pass — the corpus is never re-scanned per count table;
- both count tables are partial-aggregated (map-side combine) groupBys
  keyed by token / token-pair — the classic word-count shape, AQE-skew-
  splittable under Zipfian head words;
- scoring is one explode + one equi-join per count table (bigram join keyed
  (w1, w2), unigram join keyed w1) + one groupBy(doc) — no broadcast
  assumption on the LM (a web-scale LM table outgrows broadcast; a real
  deployment would bucket both sides by w1), no driver-side model state;
- V rides along as a 1-row broadcast crossJoin, same pattern as
  ``graph.entity_pagerank``'s N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import ckpt


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, tok) — posexplode of the whitespace split. The input is
    spread to cluster parallelism first (no-op at scale / on wide plans)."""
    from .dedup import spread_input

    return spread_input(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )


def train_bigram_lm(
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (bigrams, unigrams, vocab_n): ``bigrams`` = (w1, w2, c12),
    ``unigrams`` = (w1, c1) where c1 counts w1 as a bigram HISTORY (i.e.
    token occurrences excluding each document's last token — so that
    sum(c12) over w2 equals c1 exactly), ``vocab_n`` = 1-row (v) distinct
    token count. All three derive from one checkpointed token explode."""
    toks = ckpt(_tokens(ref_df, id_col, text_col))
    nxt = toks.select("_id", (F.col("pos") + 1).alias("pos"),
                      F.col("tok").alias("w1"))
    pairs = ckpt(
        nxt.join(toks, ["_id", "pos"]).select("w1", F.col("tok").alias("w2"))
    )
    bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = toks.select("tok").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    return bigrams, unigrams, vocab_n


def perplexity_score(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_n: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """(id_col, n_bigrams, avg_logp, ppl) per document with ≥1 bigram.

    ``avg_logp`` is the mean log2 p(w2|w1) under the add-k bigram LM;
    ``ppl`` = 2^(-avg_logp). Both rounded to 6 so the SQL oracle's
    (order-insensitive) float sums compare exactly.
    """
    kf = float(k)
    toks = _tokens(docs, id_col, text_col)
    nxt = toks.select("_id", (F.col("pos") + 1).alias("pos"),
                      F.col("tok").alias("w1"))
    doc_pairs = nxt.join(toks, ["_id", "pos"]).select(
        "_id", "w1", F.col("tok").alias("w2")
    )
    scored = (
        doc_pairs.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "_id",
            F.log2(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(kf))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(kf) * F.col("v"))
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("logp").alias("avg_logp"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            F.round(F.col("avg_logp"), 6).alias("avg_logp"),
            F.round(F.pow(F.lit(2.0), -F.col("avg_logp")), 6).alias("ppl"),
        )
    )
