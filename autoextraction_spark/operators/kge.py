"""Knowledge-graph embedding training + link prediction — engine-new
downstream of the north_rule's triple materialization: the standard next step
after building a KG is to train an embedding for link prediction / KG
completion.

One training loop (:func:`_train`) serves three score functions, each a
public trainer that supplies only its hinge test and gradient arrays:

- TransE (Bordes et al., *Translating Embeddings for Modeling
  Multi-relational Data*, NeurIPS 2013): ‖h + r − t‖², lower is better;
- DistMult (Yang et al., ICLR 2015): Σ_d h_d·r_d·t_d, higher is better;
- ComplEx (Trouillon et al., ICML 2016): Re(Σ_j h_j·r_j·conj(t_j)) over
  2·dim packed real coordinates, higher is better.

Distributed-training shape (same design rules as the engine's other
trainers, the logistic-regression quality classifier and the fitted-Q RL
trainer):

- The model IS a DataFrame: one (name, d, val) row per embedding coordinate.
  At web scale the entity vocabulary is billions of rows — a driver-side
  weight vector is impossible, so *both* the parameters and the gradients
  live in entity-keyed tables and every update is an equi-join + groupBy
  keyed by entity id (AQE-splittable under hub skew).
- One full-batch iteration = 4 equi-joins (fetch h/r/t/t' vectors) + one
  per-triple margin evaluation (pure codegen array math, no UDF) + one
  posexplode to (name, d, grad) + one partial-aggregated sum + one update
  join. No ``collect`` anywhere; per-iteration eager checkpoints cut lineage.
- Everything is DETERMINISTIC and integer-seeded, so a DuckDB oracle unrolls
  the identical trajectory in SQL CTEs (the quality_classifier precedent):
  init values are pure integer arithmetic on (vocab rank, dim), the
  corrupted tail is a rank-shift (uniform corruption without RNG), and the
  discontinuous hinge decision is made on a ``round(margin, 9)`` value in
  BOTH engines so a last-ulp float-sum difference can never flip a branch,
  and the embedding tables are re-quantized to 9 decimals at every iteration
  boundary so last-ulp differences cannot compound across iterations (the
  whole trajectory, not just each branch, is engine-independent).

Reference tie-in: the reference stops at triple emission (predict.py:144-154);
embedding the resulting graph is engine-new (SURVEY.md engine-new inventory).
"""

from __future__ import annotations

import concurrent.futures
from collections.abc import Callable
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import ckpt, with_rank


def _both(session: SparkSession, fa: Callable, fb: Callable) -> tuple:
    """Run two INDEPENDENT driver actions concurrently (guide §2.6: driver
    actions are sequential only because the code calls them sequentially)
    and return both results. Each pool thread inherits the caller's local
    properties (job group, description, scheduler pool), so the jobs it
    runs stay visible to and cancellable through the caller's group."""
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(inheritable_thread_target(session)(f)) for f in (fa, fb)]
        return futs[0].result(), futs[1].result()


def _ranked_vocabs(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ents, rels) rank tables for a checkpointed triple table: JVM-side
    two-pass global ranks (materialize.with_rank; no single-task window, no
    zipWithIndex python round-trip) built CONCURRENTLY — each with_rank
    call runs ~3 small driver jobs (range-sample, checkpoint, counts
    collect) and the two vocabs depend only on ``t``, so overlapping them
    halves the rank-build latency every trainer pays."""
    def ranked(names: DataFrame) -> DataFrame:
        return ckpt(
            with_rank(names, "name").select("name", F.col("_rn").alias("rank")),
            eager=True,
        )

    ent_names = (
        t.select(F.col("subj").alias("name"))
        .union(t.select(F.col("obj").alias("name")))
        .distinct()
    )
    rel_names = t.select(F.col("pred").alias("name")).distinct()
    return _both(t.sparkSession, partial(ranked, ent_names), partial(ranked, rel_names))


#: init constants — arbitrary coprime multipliers; values in [-0.5, 0.5)
ENT_INIT = (37, 101, 97)
REL_INIT = (53, 67, 89)

#: boundary-avoiding quantization offset for the per-iteration round(·, 9)
#: (see _update): large vs cross-engine float-sum noise
#: (~1e-13), small vs the 5e-11 decimal grid the default-lr updates live on.
QUANT_EPS = 2e-11


def _init_emb(vocab: DataFrame, dim: int, consts: tuple[int, int, int]) -> DataFrame:
    """(name, d, val) with val = ((rank·a + d·b) mod m)/m − 0.5 — exact
    integer arithmetic, identical in Spark and DuckDB."""
    a, b, m = consts
    return vocab.select(
        "name",
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("d"),
        "rank",
    ).select(
        "name",
        "d",
        (((F.col("rank") * a + F.col("d") * b) % m) / float(m) - 0.5).alias("val"),
    )


def _as_vec(emb: DataFrame) -> DataFrame:
    """(name, vec) — coordinates gathered into a d-sorted array (struct sort
    on (d, val); d is unique per name so the order is total)."""
    return emb.groupBy("name").agg(
        F.expr("transform(array_sort(collect_list(struct(d, val))), x -> x.val)")
        .alias("vec")
    )


def _contrib(df: DataFrame, key: str, grad: str) -> DataFrame:
    return df.select(F.col(key).alias("name"), F.posexplode(grad).alias("d", "g"))


def _update(emb: DataFrame, grad: DataFrame, lr: float) -> DataFrame:
    # Re-quantize the stored coordinate to 9 decimals each iteration
    # so the inter-iteration trajectory is engine-independent: the
    # gradient sums feeding the next round's sp/sn are unordered
    # float sums (Spark groupBy vs DuckDB GROUP BY), and without
    # this re-quantization a last-ulp difference could compound
    # across iterations and flip a later hinge branch.
    #
    # QUANT_EPS before the round avoids exact decimal half-
    # boundaries: once values are 1e-9 multiples, the next update
    # (lr=0.05 × 1e-9-quantized gradient sums) lands on a 5e-11
    # decimal grid that CONTAINS the x.5e-9 rounding boundaries —
    # there, sub-1e-14 cross-engine float noise decides the round
    # and Spark (shortest-decimal HALF_UP) vs DuckDB (binary-scaled
    # C round) flip coins independently. The 2e-11 offset (≫ noise,
    # ≪ grid pitch, applied identically in both engines) keeps every
    # quantized value ≥2e-11 away from every boundary, so both
    # engines always round to the same decimal — and both then store
    # the same double (nearest double to that decimal).
    return emb.join(grad, ["name", "d"], "left").select(
        "name",
        "d",
        F.round(
            F.col("val")
            - F.lit(float(lr)) * F.coalesce(F.col("g"), F.lit(0.0))
            + F.lit(QUANT_EPS),
            9,
        ).alias("val"),
    )


def _train(
    triples: DataFrame,
    width: int,
    iters: int,
    lr: float,
    neg_offset: int,
    score_grads: Callable[[DataFrame], DataFrame],
    grad_cols: tuple[str, str, str, str],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full-batch hinge loop every trainer runs. ``score_grads(j)``
    takes the per-triple frame with vectors ``hv``/``rv``/``tv``/``nv``
    (``width`` coordinates each), keeps the hinge-violating triples and adds
    the gradient arrays named by ``grad_cols`` — the h, r, t and t' columns,
    in that order (one column may serve several roles)."""
    t = ckpt(triples.select("pred", "subj", "obj").distinct(), eager=True)
    ents, rels = _ranked_vocabs(t)
    n_ent = ents.agg(F.count(F.lit(1)).alias("n_ent"))

    # corrupted tail by rank shift: two vocabulary joins, plan-built once
    tr = (
        t.join(ents.select(F.col("name").alias("obj"), F.col("rank").alias("t_rank")), "obj")
        .crossJoin(F.broadcast(n_ent))
        .withColumn("n_rank", (F.col("t_rank") + F.lit(neg_offset)) % F.col("n_ent"))
        .join(
            ents.select(F.col("rank").alias("n_rank"), F.col("name").alias("neg")),
            "n_rank",
        )
        .select("pred", "subj", "obj", "neg")
    )
    tr = ckpt(tr, eager=True)

    ent_emb = _init_emb(ents, width, ENT_INIT)
    rel_emb = _init_emb(rels, width, REL_INIT)
    g_h, g_r, g_t, g_n = grad_cols

    for _ in range(iters):
        # the two tables never depend on each other inside an iteration, so
        # their two small checkpoint jobs overlap instead of paying
        # scheduling latency back-to-back
        ent_emb, rel_emb = _both(
            t.sparkSession,
            partial(ckpt, ent_emb, eager=True),
            partial(ckpt, rel_emb, eager=True),
        )
        ev, rv = _as_vec(ent_emb), _as_vec(rel_emb)
        j = (
            tr.join(ev.select(F.col("name").alias("subj"), F.col("vec").alias("hv")), "subj")
            .join(rv.select(F.col("name").alias("pred"), F.col("vec").alias("rv")), "pred")
            .join(ev.select(F.col("name").alias("obj"), F.col("vec").alias("tv")), "obj")
            .join(ev.select(F.col("name").alias("neg"), F.col("vec").alias("nv")), "neg")
        )
        j = ckpt(
            score_grads(j).select("pred", "subj", "obj", "neg", *dict.fromkeys(grad_cols)),
            eager=True,
        )
        ent_grad = (
            _contrib(j, "subj", g_h)
            .union(_contrib(j, "obj", g_t))
            .union(_contrib(j, "neg", g_n))
            .groupBy("name", "d")
            .agg(F.sum("g").alias("g"))
        )
        rel_grad = _contrib(j, "pred", g_r).groupBy("name", "d").agg(
            F.sum("g").alias("g")
        )
        ent_emb = _update(ent_emb, ent_grad, lr)
        rel_emb = _update(rel_emb, rel_grad, lr)

    return ent_emb, rel_emb, tr


def _emb_table(ent: DataFrame, rel: DataFrame) -> DataFrame:
    """``(kind, name, d, val)`` — ent + rel rows, values rounded to 6."""
    return ent.select(F.lit("ent").alias("kind"), "name", "d", F.round("val", 6).alias("val")).union(
        rel.select(F.lit("rel").alias("kind"), "name", "d", F.round("val", 6).alias("val"))
    )


def transe_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 0.05,
    margin: float = 1.0,
    neg_offset: int = 7,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train TransE over a (pred, subj, obj) triple table.

    Returns ``(ent_emb, rel_emb, train_set)`` — embeddings as (name, d, val)
    tables after ``iters`` full-batch hinge iterations, and the checkpointed
    distinct training triples with their corrupted tails.

    Loss per triple: ``max(0, margin + ‖h+r−t‖² − ‖h+r−t'‖²)`` with the
    corrupted tail ``t'`` = the entity whose vocab rank is
    ``(rank(t) + neg_offset) mod n_ent`` — deterministic uniform corruption.
    The margin test uses ``round(·, 9)`` so both engines take the same
    branch. Updates are plain (not norm-projected) SGD — the closed-form
    variant the SQL oracle can replay exactly.
    """

    def score_grads(j: DataFrame) -> DataFrame:
        # pure-codegen array math: diffs, squared norms, hinge on a ROUNDED
        # margin so the branch is engine-portable
        j = (
            j.withColumn("dp", F.expr("zip_with(zip_with(hv, rv, (a,b) -> a + b), tv, (s,c) -> s - c)"))
            .withColumn("dn", F.expr("zip_with(zip_with(hv, rv, (a,b) -> a + b), nv, (s,c) -> s - c)"))
            .withColumn("sp", F.expr("aggregate(dp, cast(0.0 as double), (acc,x) -> acc + x*x)"))
            .withColumn("sn", F.expr("aggregate(dn, cast(0.0 as double), (acc,x) -> acc + x*x)"))
            .filter(F.round(F.lit(float(margin)) + F.col("sp") - F.col("sn"), 9) > 0)
        )
        # per-triple gradient arrays: ∂loss/∂h = ∂loss/∂r = 2(t'−t), written
        # as 2(dp−dn) so the SQL oracle computes the BIT-IDENTICAL formula
        # from its dp/dn columns (2(t'−t) differs in the last ulp)
        return (
            j.withColumn("g_hr", F.expr("zip_with(dp, dn, (p,q) -> 2.0d * (p - q))"))
            .withColumn("g_t", F.expr("transform(dp, x -> -2.0d * x)"))
            .withColumn("g_n", F.expr("transform(dn, x -> 2.0d * x)"))
        )

    return _train(
        triples, dim, iters, lr, neg_offset, score_grads, ("g_hr", "g_hr", "g_t", "g_n")
    )


def transe_embeddings(triples: DataFrame, **kw) -> DataFrame:
    """Trained embedding table ``(kind, name, d, val)`` — ent + rel rows,
    values rounded to 6 decimals so the SQL oracle's order-insensitive
    float sums compare exactly (the pagerank/quality_classifier rule)."""
    return _emb_table(*transe_train(triples, **kw)[:2])


#: squared TransE distance ‖h + r − c‖² of candidate vector ``cv`` from the
#: query point — the score link_predict argmins and rank_eval ranks by
TRANSE_DIST = (
    "aggregate(zip_with(zip_with(hv, rv, (a,b) -> a + b), cv,"
    " (s,c) -> s - c), cast(0.0 as double), (acc,x) -> acc + x*x)"
)


def _best_tail(scored: DataFrame, cand: str) -> DataFrame:
    """(subj, pred, predicted, score) — the two-step argmin of a
    (subj, pred, ``cand``, score) table, checkpointed once: min score per
    query, then min candidate name at that score (no engine-specific
    argmin-over-struct)."""
    scored = ckpt(scored)
    best = scored.groupBy("subj", "pred").agg(F.min("score").alias("score"))
    return (
        scored.join(best, ["subj", "pred", "score"])
        .groupBy("subj", "pred", "score")
        .agg(F.min(cand).alias("predicted"))
        .select("subj", "pred", "predicted", "score")
    )


def rank_eval(
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    test: DataFrame,
    ks: tuple[int, ...] = (1, 3, 10),
    known: DataFrame | None = None,
) -> DataFrame:
    """Link-prediction evaluation: tail ranking of each test triple against
    the FULL entity vocabulary — MRR and hits@k, the standard KG-completion
    metrics (Bordes et al. 2013 protocol). One output row: (n_test, mrr,
    hits_1, hits_3, hits_10, n_dropped) where n_dropped counts test triples
    excluded because their subj/pred/obj has no trained embedding
    (out-of-vocabulary).

    ``known=None`` is the RAW setting. Passing ``known`` (a (subj, pred,
    obj) DataFrame of all triples known true — conventionally train ∪
    valid ∪ test) switches to the FILTERED setting, the number every KGC
    paper actually reports: candidates c ≠ true-tail with (h, r, c) ∈
    known are excluded from the ranking, so a model is not penalized for
    ranking another correct answer above the queried one. Physical shape:
    one extra equi-join of the scored candidates against the known set
    (entity-keyed, AQE-splittable — the known set is the KG itself and is
    never broadcast).

    rank(h, r, t) = 1 + |{c : (score_c, c) < (score_t, t)}| under the
    rounded score with name tie-break — the same total order link_predict
    argmins, so rank 1 ⟺ link_predict returns the true tail. Physical
    shape: the brute-force query×vocabulary scoring join (ANN-pruned at
    scale, as in link_predict), one self-equi-join on the test-triple key
    to fetch the true tail's score, one count-aggregation per triple, one
    global average. Averages round to 6 decimals (float-sum parity rule).
    """
    ev, rv = _as_vec(ent_emb), _as_vec(rel_emb)
    q = (
        test.select("subj", "pred", "obj")
        .distinct()
        .join(ev.select(F.col("name").alias("subj"), F.col("vec").alias("hv")), "subj")
        .join(rv.select(F.col("name").alias("pred"), F.col("vec").alias("rv")), "pred")
    )
    cand = ev.select(F.col("name").alias("cand"), F.col("vec").alias("cv"))
    scored = q.crossJoin(cand).withColumn(
        "score",
        F.round(F.expr(TRANSE_DIST), 9),
    ).select("subj", "pred", "obj", "cand", "score")
    scored = ckpt(scored)
    if known is not None:
        # FILTERED setting: drop candidates that are themselves known-true
        # answers for this (subj, pred) query — except the queried tail,
        # which must stay rankable. Left-join marker instead of anti-join so
        # the true tail survives even though (subj, pred, obj) ∈ known.
        kn = (
            known.select("subj", "pred", F.col("obj").alias("cand"))
            .distinct()
            .withColumn("_kn", F.lit(1))
        )
        scored = (
            scored.join(kn, ["subj", "pred", "cand"], "left")
            .filter(F.col("_kn").isNull() | (F.col("cand") == F.col("obj")))
            .drop("_kn")
        )
    true_s = scored.filter(F.col("cand") == F.col("obj")).select(
        "subj", "pred", "obj", F.col("score").alias("ts")
    )
    ranks = (
        scored.join(true_s, ["subj", "pred", "obj"])
        .groupBy("subj", "pred", "obj")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        (F.col("score") < F.col("ts"))
                        | ((F.col("score") == F.col("ts")) & (F.col("cand") < F.col("obj"))),
                        1,
                    ).otherwise(0)
                )
            ).alias("rank")
        )
    )
    aggs = [
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(1.0 / F.col("rank")), 6).alias("mrr"),
    ]
    for k in ks:
        aggs.append(
            F.round(
                F.avg(F.when(F.col("rank") <= k, 1.0).otherwise(0.0)), 6
            ).alias(f"hits_{k}")
        )
    # Test triples whose subj/pred/obj has no embedding are dropped by the
    # inner vocabulary joins above (safe for train-derived test sets, a trap
    # for genuine held-out evaluation) — surface the drop explicitly instead
    # of silently deflating n_test: n_dropped = distinct input triples minus
    # ranked triples, computed as a 1-row crossJoined aggregate (the
    # no-collect scalar idiom used throughout the iterative operators).
    n_in = (
        test.select("subj", "pred", "obj")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_input"))
    )
    return (
        ranks.agg(*aggs)
        .crossJoin(F.broadcast(n_in))
        .withColumn("n_dropped", F.col("n_input") - F.col("n_test"))
        .drop("n_input")
    )


def distmult_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 0.05,
    margin: float = 1.0,
    neg_offset: int = 7,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """DistMult (bilinear-diagonal) KG embedding — the second score
    function through the SAME model-as-DataFrame trainer layout as TransE
    (Yang et al., *Embedding Entities and Relations for Learning and
    Inference in Knowledge Bases*, ICLR 2015): score(h, r, t) = Σ_d
    h_d·r_d·t_d (higher is better), margin-ranking hinge against the same
    rank-shift corrupted tails, full-batch SGD.

    Violation test: ``round(margin − s_pos + s_neg, 9) > 0`` — the same
    engine-portable rounded branch as TransE's. Gradients are written from
    the shared per-dimension intermediates so the SQL oracle computes the
    bit-identical formulas: ∂/∂h = r·(n − t), ∂/∂r = h·(n − t),
    ∂/∂t = −h·r, ∂/∂n = h·r. Updates re-quantize with the same QUANT_EPS +
    round(·, 9) rule (one shared determinism story for every trainer).
    """

    def score_grads(j: DataFrame) -> DataFrame:
        j = (
            j.withColumn("hr", F.expr("zip_with(hv, rv, (a,b) -> a * b)"))
            .withColumn(
                "sp",
                F.expr(
                    "aggregate(zip_with(hr, tv, (a,b) -> a * b),"
                    " cast(0.0 as double), (acc,x) -> acc + x)"
                ),
            )
            .withColumn(
                "sn",
                F.expr(
                    "aggregate(zip_with(hr, nv, (a,b) -> a * b),"
                    " cast(0.0 as double), (acc,x) -> acc + x)"
                ),
            )
            .filter(F.round(F.lit(float(margin)) - F.col("sp") + F.col("sn"), 9) > 0)
        )
        # gradients from shared intermediates: nmt = n − t once, then
        # r·nmt / h·nmt / ∓h·r — the oracle computes the SAME trees
        return (
            j.withColumn("nmt", F.expr("zip_with(nv, tv, (a,b) -> a - b)"))
            .withColumn("g_h", F.expr("zip_with(rv, nmt, (a,b) -> a * b)"))
            .withColumn("g_r", F.expr("zip_with(hv, nmt, (a,b) -> a * b)"))
            .withColumn("g_t", F.expr("transform(hr, x -> -x)"))
            .withColumn("g_n", F.col("hr"))
        )

    return _train(
        triples, dim, iters, lr, neg_offset, score_grads, ("g_h", "g_r", "g_t", "g_n")
    )


def distmult_embeddings(triples: DataFrame, **kw) -> DataFrame:
    """Trained DistMult (kind, name, d, val) table, rounded to 6 — same
    output contract as transe_embeddings."""
    return _emb_table(*distmult_train(triples, **kw)[:2])


def link_predict_ann(
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    queries: DataFrame,
    n_planes: int = 2,
    n_tables: int = 4,
    dim: int = 4,
) -> DataFrame:
    """ANN-pruned KG completion (the stated scale path of link_predict,
    now a query instead of prose — r4-verdict item 7): candidate tails come
    from a sign-LSH bucket join between the query point h+r and the trained
    entity vectors (similarity.with_lsh_tables — the same hyperplanes embed
    as literals in the SQL oracle), then ONLY the colliding candidates get
    the exact TransE score and the same rounded two-step argmin.

    Output per (subj, pred): the ANN ``predicted``/``score`` (NULL when no
    bucket collision produced a candidate — honest ANN, no silent fallback)
    plus ``hit`` = 1 iff the ANN winner equals the brute-force winner, so
    the emitted table IS the recall@1 evaluation against link_predict.
    At 10^9 entities the bucket equi-join replaces the query×vocabulary
    crossJoin; recall is bought back with n_tables (the ann_topk sizing
    rule), and the brute-force comparison column is dropped.
    """
    from .similarity import with_lsh_tables

    ev = ckpt(_as_vec(ent_emb), eager=True)
    rv = _as_vec(rel_emb)
    q = ckpt(
        queries.select("subj", "pred")
        .distinct()
        .join(ev.select(F.col("name").alias("subj"), F.col("vec").alias("hv")), "subj")
        .join(rv.select(F.col("name").alias("pred"), F.col("vec").alias("rv")), "pred")
        .withColumn("qv", F.expr("zip_with(hv, rv, (a,b) -> a + b)"))
        .select("subj", "pred", "qv"),
        eager=True,
    )
    qb = with_lsh_tables(q, "qv", n_planes, n_tables, dim).select(
        "subj", "pred", "table", "bucket"
    )
    cb = with_lsh_tables(ev, "vec", n_planes, n_tables, dim).select(
        "name", "table", "bucket"
    )
    cand = (
        qb.join(cb, ["table", "bucket"])
        .select("subj", "pred", "name")
        .distinct()
    )
    scored = (
        cand.join(q, ["subj", "pred"])
        .join(ev.select("name", F.col("vec").alias("cv")), "name")
        .withColumn(
            "score",
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, cv, (s,c) -> s - c),"
                    " cast(0.0 as double), (acc,x) -> acc + x*x)"
                ),
                9,
            ),
        )
        .select("subj", "pred", "name", "score")
    )
    ann = _best_tail(scored, "name")
    bf = link_predict(ent_emb, rel_emb, queries.select("subj", "pred").distinct()).select(
        "subj", "pred", F.col("predicted").alias("predicted_bf")
    )
    return (
        q.select("subj", "pred")
        .join(ann, ["subj", "pred"], "left")
        .join(bf, ["subj", "pred"], "left")
        .select(
            "subj",
            "pred",
            "predicted",
            "score",
            F.when(F.col("predicted") == F.col("predicted_bf"), 1)
            .otherwise(0)
            .cast("int")
            .alias("hit"),
        )
    )


def link_predict(
    ent_emb: DataFrame, rel_emb: DataFrame, queries: DataFrame
) -> DataFrame:
    """KG completion: for each query ``(subj, pred)`` rank every entity as a
    candidate tail by TransE score ‖h + r − c‖² and emit the best
    ``(subj, pred, predicted, score)``.

    This is the exact brute-force baseline (the cosine_topk of embedding
    space): queries × entity-vocabulary scoring with a distributed join, no
    driver-side model. At web scale the candidate side is pruned with the
    engine's ANN operators (similarity.ann_topk / ivf_topk over the trained
    vectors with h+r as the query point) — same substitution seam as
    documented there. Scores are rounded to 9 decimals BEFORE the argmin and
    ties break on candidate name, so the winner is engine-portable; the
    two-step min (min score per query, then min name at that score) avoids
    engine-specific argmin-over-struct semantics.
    """
    ev, rv = _as_vec(ent_emb), _as_vec(rel_emb)
    q = queries.join(
        ev.select(F.col("name").alias("subj"), F.col("vec").alias("hv")), "subj"
    ).join(rv.select(F.col("name").alias("pred"), F.col("vec").alias("rv")), "pred")
    cand = ev.select(F.col("name").alias("predicted"), F.col("vec").alias("cv"))
    scored = (
        q.crossJoin(cand)
        .withColumn("score", F.round(F.expr(TRANSE_DIST), 9))
        .select("subj", "pred", "predicted", "score")
    )
    return _best_tail(scored, "predicted")


def complex_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 0.05,
    margin: float = 1.0,
    neg_offset: int = 7,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ComplEx KG embedding (Trouillon et al., *Complex Embeddings for
    Simple Link Prediction*, ICML 2016) — the third score function through
    the shared model-as-DataFrame trainer layout (TransE, DistMult, this):
    complex-valued embeddings packed as 2·dim real coordinates per name
    (d < dim = real part, d ≥ dim = imaginary part), score(h, r, t) =
    Re(Σ_j h_j·r_j·conj(t_j)) — higher is better — margin-ranking hinge
    against the same rank-shift corrupted tails, full-batch SGD.

    ComplEx's asymmetric score (conjugation breaks s/o symmetry) is what
    DistMult cannot express; web-scale KGs are full of antisymmetric
    predicates (founded, acquired, parent_of), which is why this is the
    standard production score function.

    Determinism story shared with the siblings: violation test on
    ``round(margin − s_pos + s_neg, 9) > 0``; gradients written from the
    identical expression trees the SQL oracle computes (per-coordinate
    products in fixed order, per-j terms parenthesized before the fold);
    updates re-quantize with QUANT_EPS + round(·, 9) each iteration so the
    trajectory is engine-independent.
    """
    D = int(dim)

    def score_grads(j: DataFrame) -> DataFrame:
        # Re/Im split by index arithmetic on the packed arrays; hr = the
        # complex product h·r, whose components are the t/n gradients.
        j = (
            j.withColumn(
                "hr_re",
                F.expr(
                    f"transform(sequence(0, {D - 1}),"
                    f" i -> hv[i]*rv[i] - hv[i+{D}]*rv[i+{D}])"
                ),
            )
            .withColumn(
                "hr_im",
                F.expr(
                    f"transform(sequence(0, {D - 1}),"
                    f" i -> hv[i+{D}]*rv[i] + hv[i]*rv[i+{D}])"
                ),
            )
            .withColumn(
                "sp",
                F.expr(
                    f"aggregate(sequence(0, {D - 1}), cast(0.0 as double),"
                    f" (acc, i) -> acc + (hr_re[i]*tv[i] + hr_im[i]*tv[i+{D}]))"
                ),
            )
            .withColumn(
                "sn",
                F.expr(
                    f"aggregate(sequence(0, {D - 1}), cast(0.0 as double),"
                    f" (acc, i) -> acc + (hr_re[i]*nv[i] + hr_im[i]*nv[i+{D}]))"
                ),
            )
            .filter(F.round(F.lit(float(margin)) - F.col("sp") + F.col("sn"), 9) > 0)
        )
        # gradients from shared intermediates (nmt = n − t over the packed
        # layout); each branch is the EXACT tree the oracle writes per part
        return (
            j.withColumn("nmt", F.expr("zip_with(nv, tv, (a,b) -> a - b)"))
            .withColumn(
                "g_h",
                F.expr(
                    f"transform(sequence(0, {2 * D - 1}), i -> IF(i < {D},"
                    f" rv[i]*nmt[i] + rv[i+{D}]*nmt[i+{D}],"
                    f" rv[i-{D}]*nmt[i] - rv[i]*nmt[i-{D}]))"
                ),
            )
            .withColumn(
                "g_r",
                F.expr(
                    f"transform(sequence(0, {2 * D - 1}), i -> IF(i < {D},"
                    f" hv[i]*nmt[i] + hv[i+{D}]*nmt[i+{D}],"
                    f" hv[i-{D}]*nmt[i] - hv[i]*nmt[i-{D}]))"
                ),
            )
            .withColumn(
                "g_n",
                F.expr(
                    f"transform(sequence(0, {2 * D - 1}), i -> IF(i < {D},"
                    f" hv[i]*rv[i] - hv[i+{D}]*rv[i+{D}],"
                    f" hv[i]*rv[i-{D}] + hv[i-{D}]*rv[i]))"
                ),
            )
            .withColumn("g_t", F.expr("transform(g_n, x -> -x)"))
        )

    return _train(
        triples, 2 * D, iters, lr, neg_offset, score_grads, ("g_h", "g_r", "g_t", "g_n")
    )


def complex_embeddings(triples: DataFrame, **kw) -> DataFrame:
    """Trained ComplEx (kind, name, d, val) table, rounded to 6 — same
    output contract as transe_embeddings/distmult_embeddings (d < dim is
    the real part, d ≥ dim the imaginary part)."""
    return _emb_table(*complex_train(triples, **kw)[:2])
