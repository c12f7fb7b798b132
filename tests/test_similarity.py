from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.similarity import (
    cosine_near_duplicates,
    cosine_topk,
    knn_join,
    lsh_topk,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),  # nearly parallel to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # antiparallel
        (4, [0.7, 0.7, 0.0, 0.0]),  # 45°
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(vectors):
    got = [(r["vec_id"], r["cosine"]) for r in cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=5).collect()]
    assert [v for v, _ in got] == [0, 1, 4, 2, 3]
    assert got[0][1] == 1.0
    assert abs(got[2][1] - 0.707107) < 1e-6
    assert got[3][1] == 0.0
    assert got[4][1] == -1.0


def test_knn_join_matches_single_query(vectors):
    single = {r["vec_id"]: r["cosine"] for r in cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=5).collect()}
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    joined = {r["vec_id"]: r["cosine"] for r in knn_join(vectors, queries, k=5).collect()}
    assert joined == single


def test_lsh_topk_recall_on_planted_clusters(spark):
    """LSH must recover genuinely-similar vectors (planted cluster around
    the query). Uniform-random corpora have near-tie top-k that NO bucketed
    index can rank — that's the regime where brute force is the right tool,
    so the recall contract is only asserted on clustered structure."""
    import numpy as np

    rs = np.random.RandomState(7)
    q = rs.standard_normal(16)
    rows = []
    for i in range(10):  # planted: query + small noise
        rows.append((i, [float(x) for x in q + 0.05 * rs.standard_normal(16)]))
    for i in range(10, 200):  # background: random directions
        rows.append((i, [float(x) for x in rs.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [r["vec_id"] for r in cosine_topk(df, [float(x) for x in q], k=10).collect()]
    assert set(exact) == set(range(10))  # sanity: the cluster IS the top-10
    approx = [r["vec_id"] for r in lsh_topk(df, [float(x) for x in q], k=10, bits=8).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 8, f"LSH recall too low on clustered data: {overlap}/10"


def test_lsh_topk_smoke_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = {r["vec_id"]: r["cosine"] for r in lsh_topk(emb, q, k=10).collect()}
    assert len(approx) == 10
    assert approx.get(0) == 1.0  # the query's own bucket is always probed


def test_cosine_near_duplicates_finds_planted_pair(spark):
    rows = [
        (0, [0.5, 0.5, 0.5, 0.5]),
        (1, [0.5, 0.5, 0.5, 0.50001]),  # planted near-dup
        (2, [1.0, -1.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in cosine_near_duplicates(df, threshold=0.999, bits=4).collect()}
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def test_cosine_zero_vector_is_null_both_impls(spark):
    """An all-zero vector must yield NULL cosine on the HOF reference, the
    Arrow scorer, and the anchor-matrix UDF (whose NaN elements sit inside
    an array; a NaN ranks above every cosine under desc, a NULL last) —
    under ANSI mode (Spark 4 default) an unguarded division would instead
    crash the whole query on the first degenerate embedding."""
    from pyspark.sql import functions as F

    from weatherdatapipeline_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 2.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    q = F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
    for impl, cos in (("hof", S.cosine_similarity_hof), ("arrow", S.cosine_similarity)):
        rows = {
            r["vec_id"]: r["c"]
            for r in df.select("vec_id", cos(F.col("embedding"), q).alias("c")).collect()
        }
        assert rows[0] is None, f"{impl}: zero vector should be NULL"
        assert abs(rows[1] - 1 / 3) < 1e-9

    # anchors: a unit anchor and a zero-norm anchor
    udf = S.cosine_to_anchors_udf([[1.0, 0.0, 0.0], [0.0, 0.0, 0.0]])
    rows = {
        r["vec_id"]: r["c"]
        for r in df.select("vec_id", udf(F.col("embedding")).alias("c")).collect()
    }
    assert rows[0] == [None, None], "anchors: zero vector should be NULL"
    assert abs(rows[1][0] - 1 / 3) < 1e-9 and rows[1][1] is None


def test_assign_to_centroids_argmax_and_ties(spark):
    from pyspark.sql import functions as F

    from weatherdatapipeline_spark.operators.similarity import assign_to_centroids

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [5.0, 1.0]),   # closer to centroid 0
            (11, [0.5, 3.0]),   # closer to centroid 1
            (12, [2.0, 2.0]),   # exact tie -> lowest centroid id (0)
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in assign_to_centroids(vecs, cents).collect()
    }
    assert got[10][0] == 0 and got[11][0] == 1
    assert got[12][0] == 0  # tie broken to the lower centroid id
    assert got[12][1] == pytest.approx(2.0 / (8 ** 0.5))


def test_semdedup_planted(spark):
    """SemDeDup semantics: a near-identical embedding pair lands in the
    same cluster and collapses to its min id; orthogonal vectors
    survive. Centroids are orthogonal axes so the dup pair cannot be
    split across cluster boundaries (the known SemDeDup edge case —
    documented in the operator, not silently hidden here)."""
    from weatherdatapipeline_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # semantic dup of 0, same cluster
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),      # survivor in the axis-2 cluster
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = df.filter("vec_id in (0, 2, 3)").selectExpr(
        "vec_id as centroid_id", "embedding as centroid_vec"
    )
    kept = sorted(
        r["vec_id"] for r in semdedup(df, cents, threshold=0.95).collect()
    )
    assert kept == [0, 2, 3]


def test_mmr_skips_redundant_near_duplicates(spark):
    """Three near-identical highly-relevant vectors vs one moderately
    relevant diverse one: plain top-3 keeps the clones; at a
    diversity-heavy lambda=0.3 MMR must pick the diverse vector at
    rank 2 (any vector correlated with the query is also correlated
    with the rank-1 pick, so clones only lose once (1-lambda) times
    their ~1.0 mutual similarity outweighs their relevance edge)."""
    import numpy as np

    from weatherdatapipeline_spark.operators.similarity import cosine_topk, mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [1.0, 0.01, 0.0, 0.0]),   # clone pack: rel ~1
        (2, [1.0, 0.0, 0.01, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.01]),
        (4, [0.5, 0.86, 0.0, 0.0]),   # diverse, rel ~0.5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plain = [r["vec_id"] for r in cosine_topk(df, q, k=3).collect()]
    assert plain == [1, 2, 3]
    mmr = {r["rank"]: r for r in mmr_rerank(df, q, k=3, lam=0.3, shortlist=4).collect()}
    assert mmr[1]["vec_id"] == 1          # most relevant first
    assert mmr[2]["vec_id"] == 4          # diversity beats the clones
    assert mmr[1]["mmr_score"] == mmr[1]["relevance"]
    # rank-2 score must equal 0.3*rel - 0.7*cos(4, 1) recomputed
    v4, v1 = np.array(rows[3][1]), np.array(rows[0][1])
    expect = 0.3 * mmr[2]["relevance"] - 0.7 * float(
        v4 @ v1 / (np.linalg.norm(v4) * np.linalg.norm(v1))
    )
    assert abs(mmr[2]["mmr_score"] - round(expect, 6)) < 1e-6
