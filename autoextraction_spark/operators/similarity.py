"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — broadcast the (small) query set
  against the corpus, dot products via ``zip_with``/``aggregate`` (JVM-side,
  no UDF), windowed top-k. The correctness baseline.
- ``random_hyperplane_buckets`` + ``ann_topk``: the scale path — sign-of-dot
  LSH bucketing with DETERMINISTIC hyperplanes (portable-hash-derived
  weights), equi-join on bucket id instead of a cross join. At 10^9 vectors
  the cross join is impossible; the bucket join is one shuffle.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import ckpt, co_key_pairs


def auto_n_planes(n_vectors: int, target_bucket: int = 1024) -> int:
    """Plane count that keeps expected sign-LSH bucket occupancy near
    ``target_bucket``: occupancy ≈ N / 2^n_planes, so
    n_planes = ⌈log2(N / target_bucket)⌉ (min 1). N=10^9 with 1k-row
    buckets → 20 planes; recall is then bought back with ``n_tables``."""
    return max(1, math.ceil(math.log2(max(n_vectors / target_bucket, 2.0))))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def with_cosine(df: DataFrame, a: str, b: str) -> DataFrame:
    """Adds ``cosine``: the cosine of vector columns ``a`` and ``b``,
    computed JVM-side over ``array<double>`` casts."""
    ca, cb = F.col(a).cast("array<double>"), F.col(b).cast("array<double>")
    return df.withColumn("cosine", _dot(ca, cb) / (_norm(ca) * _norm(cb)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id) pairs of ``scored`` per query
    by ``cosine``, ties to the smaller neighbor_id, as (query_id,
    neighbor_id, cosine rounded to 6 places, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"),
                F.col("rank").cast("long").alias("rank"))
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Queries are broadcast (the small side); the corpus is scanned once —
    no shuffle except the final per-query top-k window over k·|queries| rows.
    """
    from .dedup import spread_input

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    # spread the corpus side (r6): the |queries|·dim dot products per
    # corpus row are the scan stage's compute — serial above a 1-task scan
    c = spread_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = with_cosine(
        q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id")),
        "q_vec", "c_vec",
    )
    return _top_k(scored, k)


def hyperplane_weights(n_planes: int, dim: int, seed: str = "ann") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] from md5 — the same
    planes can be embedded as literals in an oracle or another engine."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}#{p}_{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def with_lsh_tables(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 2,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """One row per (vector, table) with a (table, bucket) key.

    Multiple independent hash tables are the standard recall lever for
    sign-LSH: a close pair collides in SOME table with probability
    1-(1-p^n_planes)^n_tables. Implemented as one explode + later one
    equi-join on (table, bucket) — still a single shuffle at scale.

    The input is spread to cluster parallelism first (r6, no-op at scale /
    on wide plans): the n_tables × n_planes hyperplane dot products are
    the bucketing stage's CPU cost and must not run above a 1-task scan.
    """
    from .dedup import spread_input

    df = spread_input(df)
    v = F.col(vec_col).cast("array<double>")
    entries = []
    for t in range(n_tables):
        bucket = F.lit(0)
        for p, weights in enumerate(hyperplane_weights(n_planes, dim, seed=f"ann-t{t}")):
            plane = F.array(*[F.lit(w) for w in weights])
            bucket = bucket + F.when(_dot(v, plane) > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        entries.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    return df.select(
        "*", F.explode(F.array(*entries)).alias("_tb")
    ).select("*", "_tb.table", "_tb.bucket").drop("_tb")


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share a (table, bucket) LSH key.

    The equi-join on (table, bucket) replaces the cross join — the plan that
    survives 10^9 vectors. Candidate pairs found in several tables are
    deduped BEFORE scoring so each dot product is computed once.

    SIZING: expected bucket occupancy is N / 2^n_planes per table. When
    ``n_planes`` is None (default) it is DERIVED from the corpus count via
    ``auto_n_planes`` — N=10^9 with ~1k-row buckets → 20 planes (the count
    is one cheap job, a model-sizing action like IVF's centroid fit); raise
    ``n_tables`` to buy recall back
    (P[collide in ≥1 table] = 1-(1-p^n_planes)^n_tables, p = 1-θ/π). The
    driver-checked query pins n_planes=2/n_tables=4 for the 500-vector
    test corpus.
    """
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count())
    # r6 (guide §8): decide with SMALL rows, attach payloads once. The
    # band join and the candidate dedup previously carried the query
    # vector (dim doubles per row) through both shuffles; now they move
    # id pairs only, and each side's vector attaches exactly once to the
    # surviving pairs. Norms are precomputed per VECTOR (they were being
    # re-evaluated per candidate pair — |pairs|/|vectors| redundant sqrt
    # folds); the cosine expression tree per pair is otherwise identical,
    # so every rounded value is unchanged.
    qb = with_lsh_tables(queries, vec_col, n_planes, n_tables, dim).select(
        F.col(id_col).alias("query_id"), "table", "bucket"
    )
    cb = with_lsh_tables(corpus, vec_col, n_planes, n_tables, dim).select(
        F.col(id_col).alias("neighbor_id"), "table", "bucket"
    )
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_norm", _norm(F.col("q_vec")))
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    scored = (
        cand.join(q_vecs, "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    return _top_k(scored, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer ANN.

    The corpus is partitioned into ``n_centroids`` cells by nearest-centroid
    cosine; a query probes its ``n_probe`` nearest cells and ranks ONLY
    those cells' vectors by exact cosine. Deterministic centroid choice here
    is the first ``n_centroids`` vectors by id — an engine-reproducible
    stand-in for k-means; swap in ``pyspark.ml.clustering.KMeans`` centers
    for trained cells, the plumbing is identical.

    Scale shape: centroid vectors are a driver-side MODEL ARTIFACT (exactly
    what KMeans.fit produces — collecting n_centroids rows is model fitting,
    not a data collect); cell assignment is a pure-codegen argmax fold over
    the centroid literal array — one narrow map over the corpus, NO shuffle;
    the probe is an equi-join on cell id. Tune n_centroids ≈ √N so cells
    stay ~√N and the probed candidate set is n_probe·N/n_centroids.
    """
    cent_rows = sorted(
        (r[0], r[1])
        for r in corpus.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cents = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cell"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
            )
            for cid, vec in cent_rows
        ]
    )

    def cell_cos(v: Column):
        return lambda c: _dot(c["cv"], v) / (_norm(c["cv"]) * _norm(v))

    def assign(df: DataFrame, out: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        scored = F.transform(
            cents, lambda c: F.struct((-cell_cos(v)(c)).alias("neg"), c["cell"].alias("cell"))
        )
        return df.withColumn(out, F.array_sort(scored))

    c_assigned = assign(corpus, "_cells").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.element_at("_cells", 1)["cell"].alias("cell"),
    )
    q_assigned = assign(queries, "_cells").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            F.transform(F.slice("_cells", 1, n_probe), lambda s: s["cell"])
        ).alias("cell"),
    )
    scored = with_cosine(
        q_assigned.join(c_assigned, "cell").filter(F.col("query_id") != F.col("neighbor_id")),
        "q_vec", "c_vec",
    )
    return _top_k(scored, k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    Blocking is multi-table sign-LSH (candidates share a (table, bucket)
    key) — the plan that survives 10^9 vectors: every join is an
    equi-join, never all-pairs. Round 1 blocked on ``label``, which is
    all-pairs within block and explodes when the block key is coarse
    (VERDICT.md item 4). Recall at the threshold is
    1-(1-p^n_planes)^n_tables with p = 1-θ/π — near-identical pairs
    (the near-dup regime) collide with probability ≈ 1; ``n_planes`` is
    auto-sized from the corpus count when not given (``auto_n_planes``), so
    buckets stay bounded as the corpus grows.
    """
    if n_planes is None:
        n_planes = auto_n_planes(df.count())
    # the (table, bucket) projection — n_tables × n_planes dot products
    # per vector — feeds BOTH sides of the self-join; one DISK_ONLY
    # materialization instead of computing the projections twice
    bucketed = ckpt(with_lsh_tables(df, vec_col, n_planes, n_tables, dim))
    cand = (
        co_key_pairs(bucketed.select(id_col, "table", "bucket"), id_col, ["table", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    scored = with_cosine(pairs, "v_a", "v_b")
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def kmeans_train(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the engine's
    fifth trainer, in the same no-collect layout as the others (logreg GD,
    fitted-Q, TransE/DistMult/ComplEx): the model IS a (cluster, cv)
    DataFrame, never driver-side weights.

    Deterministic and engine-independent: init = the first ``k`` vectors by
    id (the IVF precedent); per iteration, assignment = argmin over
    ``round(‖v−c‖² + QUANT_EPS, 9)`` with cluster-id tie-break (the KGE
    total-order rule), update = per-dimension mean re-quantized with the
    same rule, and a cluster that loses all members keeps its previous
    centroid (standard Lloyd). The SQL oracle unrolls the iterations
    term-for-term.

    Scale shape (10^9 vectors, k ~ 10^4): the k-row centroid table
    broadcasts to the assignment join; argmin is a map-side-combinable
    min(struct) — one row per vector reaches the shuffle; the update
    explodes only (cluster, d, val) rows — k·dim after partial aggregation.
    No driver collect anywhere in the loop.
    """

    from .kge import QUANT_EPS

    v = ckpt(
        vecs.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    cents = v.filter(F.col("id") < k).select(
        F.col("id").cast("int").alias("cluster"), F.col("v").alias("cv")
    )
    dist = F.round(
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        + F.lit(QUANT_EPS),
        9,
    )
    for _ in range(iters):
        cents = ckpt(cents)
        assigned = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("dist", dist)
            .groupBy("id")
            .agg(F.min(F.struct("dist", "cluster", "v")).alias("w"))
            .select(F.col("w.cluster").alias("cluster"), F.col("w.v").alias("v"))
        )
        new = (
            assigned.select("cluster", F.posexplode("v").alias("d", "val"))
            .groupBy("cluster", "d")
            .agg((F.round(F.avg("val") + F.lit(QUANT_EPS), 9)).alias("val"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "val"))),
                    lambda s: s["val"],
                ).alias("cv_new")
            )
        )
        # empty clusters keep their previous centroid (standard Lloyd)
        cents = cents.join(new, "cluster", "left").select(
            "cluster", F.coalesce("cv_new", "cv").alias("cv")
        )
    return cents


def semdedup(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, *SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication*): cluster the corpus's
    embeddings with k-means, then compare pairs ONLY within a cluster and
    suppress every vector that has a smaller-id cluster-mate with cosine ≥
    ``threshold`` (first-occurrence-wins, the engine's dedup convention;
    the paper keeps the lowest-centroid-similarity member — same set size,
    different representative choice).

    Returns one row per vector: (id_col, cluster, keep, dup_of, cosine) —
    ``dup_of`` the highest-cosine smaller-id cluster-mate over the
    threshold (ties → min id), NULL when kept.

    Scale shape: the quadratic comparison is confined to clusters (the
    whole point — k ≈ N/√N keeps cells ~√N); the intra-cluster self-join
    is ``co_key_pairs`` on cluster id, uncapped, so a giant cluster costs
    what its giant-block contract says.
    """

    from .kge import QUANT_EPS

    cents = kmeans_train(vecs, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    v = ckpt(
        vecs.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    dist = F.round(
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        + F.lit(QUANT_EPS),
        9,
    )
    assigned = ckpt(
        v.crossJoin(F.broadcast(cents))
        .withColumn("dist", dist)
        .groupBy("id")
        .agg(F.min(F.struct("dist", "cluster", "v")).alias("w"))
        .select("id", F.col("w.cluster").alias("cluster"), F.col("w.v").alias("v"))
    )
    # id_b is the later vector; id_a its smaller-id cluster-mate
    pairs = (
        co_key_pairs(assigned, "id", ["cluster"])
        .withColumn(
            "cosine",
            _dot(F.col("v_b"), F.col("v_a"))
            / (_norm(F.col("v_b")) * _norm(F.col("v_a"))),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("id_b").orderBy(F.col("cosine").desc(), F.col("id_a"))
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias("id"),
            F.col("id_a").alias("dup_of"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
    return (
        assigned.select("id", "cluster")
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster"),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            "cosine",
        )
    )


def pq_codes(
    vecs: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011, *Product quantization for
    nearest neighbor search*): split each vector into ``m`` subspaces,
    train an independent k-means codebook per subspace (the engine's Lloyd
    trainer — deterministic init, QUANT_EPS-rounded argmin/means), and
    emit each vector's code + squared reconstruction error per subspace:

        (vec_id, subspace, code, sq_err)

    This is the compression half of IVF-PQ — the layout that makes
    billion-vector ANN memory-resident (m·log2(k) bits per vector instead
    of dim·32). The codebooks here are the model artifact; serving scans
    compare query subvectors against k·m centroids via lookup tables.

    Scale shape: the full vectors are checkpointed ONCE and every subspace
    trains over a narrow slice projection of that one materialization; all
    k-means costs are the trainer's (broadcast assignment join, map-side
    combinable argmin/means); the final per-subspace assignment is the
    same broadcast crossJoin + min(struct) with no extra corpus pass. The
    SQL oracle unrolls all m codebook trainings term-for-term.
    """

    from .kge import QUANT_EPS

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    v = ckpt(
        vecs.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("full"),
        )
    )
    dist = F.round(
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        + F.lit(QUANT_EPS),
        9,
    )
    out = None
    for s in range(m):
        vs = v.select("id", F.slice("full", s * sub + 1, sub).alias("v"))
        cents = kmeans_train(vs, k=k, iters=iters, id_col="id", vec_col="v")
        a = (
            vs.crossJoin(F.broadcast(cents))
            .withColumn("dist", dist)
            .groupBy("id")
            .agg(F.min(F.struct("dist", "cluster")).alias("w"))
            .select(
                F.col("id").alias("vec_id"),
                F.lit(s).cast("long").alias("subspace"),
                F.col("w.cluster").cast("long").alias("code"),
                F.col("w.dist").alias("sq_err"),
            )
        )
        out = a if out is None else out.unionByName(a)
    return out
