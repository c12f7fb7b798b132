"""Grid-bucketed radius join: brute-force parity on planted point sets,
including cell-boundary points, coincident points, and a dense hot cell."""

from __future__ import annotations

import pytest

from weatherdatapipeline_spark.operators.spatial import radius_join


def brute(pts, r):
    out = set()
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1 :]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r * r:
                a, b = sorted((ia, ib))
                out.add((a, b, d2))
    return out


def corpus():
    pts = []
    k = 0
    # lattice with spacing just above/below the radius
    for gx in range(6):
        for gy in range(6):
            pts.append((k, gx * 90, gy * 90))
            k += 1
    # boundary cases: exactly radius apart, one unit inside/outside
    pts += [(100, 1000, 1000), (101, 1100, 1000), (102, 1101, 1000),
            (103, 1000, 1099)]
    # coincident points and a dense cluster in one cell
    pts += [(200, 5000, 5000), (201, 5000, 5000)]
    pts += [(300 + i, 7000 + i, 7000 - i) for i in range(12)]
    return pts


@pytest.mark.parametrize("r", [90, 100, 150])
def test_radius_join_equals_brute_force(spark, r):
    pts = corpus()
    df = spark.createDataFrame(pts, "pid LONG, x LONG, y LONG")
    got = {
        (row.pid_a, row.pid_b, row.dist2)
        for row in radius_join(df, radius=r).collect()
    }
    assert got == brute(pts, r)


def test_radius_join_exact_radius_inclusive(spark):
    df = spark.createDataFrame(
        [(0, 0, 0), (1, 100, 0), (2, 101, 0)], "pid LONG, x LONG, y LONG"
    )
    got = {(r.pid_a, r.pid_b): r.dist2 for r in radius_join(df, 100).collect()}
    assert got == {(0, 1): 10000, (1, 2): 1}


def test_radius_join_rejects_bad_radius(spark):
    df = spark.createDataFrame([(0, 0, 0)], "pid LONG, x LONG, y LONG")
    with pytest.raises(ValueError):
        radius_join(df, 0)


def test_dbscan_planted_blobs(spark, tmp_path):
    """Two dense blobs + isolated noise: DBSCAN must find exactly two
    clusters, label blob members core/border correctly, and mark the
    isolated points noise. Drives the full query through a staged
    customer table so the md5-coordinate plumbing is bypassed by a
    direct operator-level composition instead."""
    from weatherdatapipeline_spark.operators.dedup import connected_components
    from pyspark.sql import functions as F

    blob_a = [(i, 100 + 3 * i, 100) for i in range(6)]          # ids 0..5
    blob_b = [(10 + i, 5000, 5000 + 3 * i) for i in range(6)]   # ids 10..15
    noise = [(100, 90000, 90000), (101, 90500, 20000)]
    pts = spark.createDataFrame(blob_a + blob_b + noise, "pid LONG, x LONG, y LONG")
    eps, minpts = 20, 4
    pairs = radius_join(pts, radius=eps).select("pid_a", "pid_b")
    deg = (
        pairs.select(F.col("pid_a").alias("pid"))
        .unionAll(pairs.select(F.col("pid_b").alias("pid")))
        .groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    )
    core = {r.pid for r in deg.filter(F.col("n") >= minpts).collect()}
    # blob interiors are core (>=4 neighbors within 20), blob ends may be border
    assert {1, 2, 3, 4} <= core and {11, 12, 13, 14} <= core
    assert 100 not in core and 101 not in core
    core_df = spark.createDataFrame([(p,) for p in core], "pid LONG")
    edges = (
        pairs.join(core_df.withColumnRenamed("pid", "pid_a"), "pid_a")
        .join(core_df.withColumnRenamed("pid", "pid_b"), "pid_b")
        .select(F.col("pid_a").alias("doc_a"), F.col("pid_b").alias("doc_b"))
    )
    cc = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert len({cc[p] for p in core if p < 10}) == 1
    assert len({cc[p] for p in core if 10 <= p < 20}) == 1
    assert {cc[p] for p in core if p < 10} != {cc[p] for p in core if 10 <= p < 20}


def test_knn_join_equals_brute_force(spark):
    from weatherdatapipeline_spark.operators.spatial import knn_join

    pts = corpus()
    df = spark.createDataFrame(pts, "pid LONG, x LONG, y LONG")
    k = 3
    # small radii force BOTH escalation levels and the brute residual
    got = {
        (r.pid, r.rank, r.nbr, r.dist2)
        for r in knn_join(df, k=k, radii=(50, 200)).collect()
    }
    brute = set()
    for i, (ia, xa, ya) in enumerate(pts):
        ds = sorted(
            ((xa - xb) ** 2 + (ya - yb) ** 2, ib)
            for ib, xb, yb in pts
            if ib != ia
        )
        for rank, (d2, ib) in enumerate(ds[:k], 1):
            brute.add((ia, rank, ib, d2))
    assert got == brute


def test_knn_join_rejects_bad_k(spark):
    from weatherdatapipeline_spark.operators.spatial import knn_join

    df = spark.createDataFrame([(0, 0, 0)], "pid LONG, x LONG, y LONG")
    with pytest.raises(ValueError):
        knn_join(df, k=0)


def test_knn_join_all_sparse_adversarial(spark):
    """ADVICE r10 (medium): every point's k-th neighbor lies beyond the
    widest fixed radius, so NO point resolves on the ladder — the r10
    code would broadcast-crossJoin the whole dataset here. The extent
    level must resolve everything exactly, with no fixture-tuned radii
    doing the work."""
    from weatherdatapipeline_spark.operators.spatial import knn_join

    # spacing 10_000 >> widest radius 200: all points fall through
    pts = [(i, (i * 7919) % 13 * 10_000, (i * 104729) % 11 * 10_000)
           for i in range(25)]
    df = spark.createDataFrame(pts, "pid LONG, x LONG, y LONG")
    k = 4
    got = {
        (r.pid, r.rank, r.nbr, r.dist2)
        for r in knn_join(df, k=k, radii=(50, 200)).collect()
    }
    brute = set()
    for ia, xa, ya in pts:
        ds = sorted(
            ((xa - xb) ** 2 + (ya - yb) ** 2, ib)
            for ib, xb, yb in pts
            if ib != ia
        )
        for rank, (d2, ib) in enumerate(ds[:k], 1):
            brute.add((ia, rank, ib, d2))
    assert got == brute


def test_knn_join_fewer_points_than_k(spark):
    """n <= k: every point returns all n-1 neighbors (brute-force
    semantics), ranks 1..n-1 — the extent level must not drop them."""
    from weatherdatapipeline_spark.operators.spatial import knn_join

    df = spark.createDataFrame(
        [(0, 0, 0), (1, 500_000, 0), (2, 0, 900_000)], "pid LONG, x LONG, y LONG"
    )
    rows = knn_join(df, k=5, radii=(100,)).collect()
    per = {}
    for r in rows:
        per.setdefault(r.pid, []).append((r.rank, r.nbr))
    assert set(per) == {0, 1, 2}
    for pid, lst in per.items():
        assert sorted(r for r, _ in lst) == [1, 2]


def test_knn_escalation_audit_matches_brute(spark):
    from weatherdatapipeline_spark.operators.spatial import knn_escalation_audit

    pts = corpus()
    df = spark.createDataFrame(pts, "pid LONG, x LONG, y LONG")
    k, radii = 3, (100, 400)
    got = {r.level: r.points for r in knn_escalation_audit(df, k, radii).collect()}
    exp = {}
    for ia, xa, ya in pts:
        d2s = sorted(
            (xa - xb) ** 2 + (ya - yb) ** 2 for ib, xb, yb in pts if ib != ia
        )
        kth = d2s[k - 1] if len(d2s) >= k else None
        lvl = "extent"
        for r in sorted(radii):
            if kth is not None and kth <= r * r:
                lvl = f"r{r}"
                break
        exp[lvl] = exp.get(lvl, 0) + 1
    assert got == exp


def test_registered_build_releases_previous_knn_result(spark, monkeypatch):
    """knn_join's materialized result lives in the build's cache scope:
    it stays cached after the build returns (its plan runs later), and
    the next registered build releases it."""
    from weatherdatapipeline_spark import queries as Q
    from weatherdatapipeline_spark.operators.spatial import knn_join

    monkeypatch.setattr(Q, "QUERIES", {})
    monkeypatch.setattr(Q, "ORACLES", {})
    df = spark.createDataFrame(corpus(), "pid LONG, x LONG, y LONG")

    def knn_build(s, d):
        return knn_join(df, k=2, radii=(100,))

    def other_build(s, d):
        return s.range(3)

    Q.register(knn_build, None)
    Q.register(other_build, None)
    r1 = Q.QUERIES["knn_build"](spark, "unused")
    assert r1.storageLevel.useMemory
    Q.QUERIES["other_build"](spark, "unused")
    assert not r1.storageLevel.useMemory
