"""Similarity search: brute-force cosine top-k, LSH-bucketed ANN."""

import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # farthest from 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.cosine_topk(df.filter(F.col("vec_id") == 1), df, k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(2, 1), (3, 2)]
    assert got[0].cosine > 0.99


def test_ann_recall_vs_bruteforce(vectors):
    queries = vectors.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(queries, vectors, k=5)
    approx = similarity.ann_topk(queries, vectors, k=5, n_planes=2, n_tables=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random 64-d vectors: top-5 cosine ~0.4 → per-table collision ~0.4,
    # miss-all-4-tables ~0.13 → expect recall well above 0.6
    assert recall >= 0.6, recall
    fewer = similarity.ann_topk(queries, vectors, k=5, n_planes=2, n_tables=1)
    f = {(r.query_id, r.neighbor_id) for r in fewer.collect()}
    assert len(e & a) > len(e & f)  # more tables => more recall
    # every approx neighbor the exact search also ranks must agree on cosine
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_ivf_recall_improves_with_probes(vectors):
    queries = vectors.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(queries, vectors, k=5).collect()}
    few = similarity.ivf_topk(queries, vectors, k=5, n_centroids=16, n_probe=1)
    many = similarity.ivf_topk(queries, vectors, k=5, n_centroids=16, n_probe=8)
    rf = len(exact & {(r.query_id, r.neighbor_id) for r in few.collect()}) / len(exact)
    rm = len(exact & {(r.query_id, r.neighbor_id) for r in many.collect()}) / len(exact)
    assert rm >= rf           # more probes => no worse recall
    assert rm >= 0.5, (rf, rm)  # probing half the cells finds most true top-5
    # probed-cell candidates are exactly re-ranked: cosines must agree
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine
                 for r in similarity.cosine_topk(queries, vectors, k=5).collect()}
    for r in many.collect():
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_embedding_neardup_lsh_default(vectors):
    # default blocking = multi-table sign-LSH; every emitted pair must meet
    # the threshold, and near-identical vectors must collide in some table
    df = vectors.limit(200)
    got = similarity.embedding_neardup_pairs(
        df, threshold=0.95, n_planes=2, n_tables=4, dim=64
    )
    for r in got.collect():
        assert r.cosine >= 0.95
    # self-consistency: identical vectors always share every bucket
    twin = df.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    doubled = df.limit(1).select("vec_id", "embedding").unionByName(twin)
    pairs = similarity.embedding_neardup_pairs(
        doubled, threshold=0.999, n_planes=2, n_tables=4, dim=64
    )
    assert pairs.count() == 1


def test_auto_n_planes_sizing():
    # N=10^9, 1k buckets -> 20 planes; tiny corpora floor at 1
    assert similarity.auto_n_planes(10**9, 1024) == 20
    assert similarity.auto_n_planes(500, 1024) == 1
    assert similarity.auto_n_planes(8192, 1024) == 3


def test_kmeans_two_obvious_clusters(spark):
    # ids 0,1 seed the two centroids; points cluster around (0,0) and (10,10)
    pts = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),
        (2, [0.2, 0.0]), (3, [0.0, 0.2]),
        (4, [10.2, 10.0]), (5, [10.0, 10.2]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = {
        r.cluster: r.cv
        for r in similarity.kmeans_train(df, k=2, iters=2).collect()
    }
    assert set(cents) == {0, 1}
    # converged means: cluster 0 = mean of {0,2,3}, cluster 1 = mean of {1,4,5}
    assert cents[0] == pytest.approx([0.2 / 3, 0.2 / 3], abs=1e-6)
    assert cents[1] == pytest.approx([10 + 0.2 / 3, 10 + 0.2 / 3], abs=1e-6)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # centroid 1 (the id-1 point) is strictly closer to centroid 0's basin
    # after one update and captures nothing: it must keep its coordinates
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.05, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = {
        r.cluster: r.cv for r in similarity.kmeans_train(df, k=2, iters=2).collect()
    }
    assert set(cents) == {0, 1}  # no cluster vanished


def test_semdedup_suppresses_planted_neardup(spark):
    pts = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),   # near-dup of 0 (cosine ~0.9999)
        (3, [0.0, 0.98, 0.05]),   # near-dup of 1
        (4, [-1.0, -1.0, 0.0]),   # lone vector
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in similarity.semdedup(df, k=2, iters=2, threshold=0.95).collect()
    }
    assert not out[2].keep and out[2].dup_of == 0
    assert out[0].keep and out[1].keep
    assert out[4].keep
    # suppressed rows carry the matched cosine; kept rows carry NULLs
    assert out[2].cosine > 0.99 and out[0].cosine is None


def test_pq_codes_separated_subspace_clusters(spark):
    # two clean clusters PER SUBSPACE, crossed so the subspace codebooks
    # must be independent (v0 and v1 swap cluster roles across subspaces)
    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 10.0, 10.0]),
            (1, [10.0, 10.0, 0.0, 0.0]),
            (2, [0.2, 0.0, 10.0, 10.2]),
            (3, [10.0, 10.2, 0.2, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.pq_codes(vecs, m=2, k=2, iters=2, dim=4)
    rows = {(r.vec_id, r.subspace): r for r in out.collect()}
    assert len(rows) == 8  # n * m
    for s in (0, 1):
        assert rows[(0, s)].code == rows[(2, s)].code
        assert rows[(1, s)].code == rows[(3, s)].code
        assert rows[(0, s)].code != rows[(1, s)].code
    # final centroids are the 2-member means -> residual is the half-gap
    # squared (0.1^2), QUANT_EPS-rounded
    for key, r in rows.items():
        assert r.sq_err < 0.05, key
    assert abs(rows[(0, 0)].sq_err - 0.01) < 1e-6
