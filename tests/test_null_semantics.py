"""SQL null-semantics conformance: the behaviors relational consumers
rely on and pandas silently does differently (the reference's engine
never had to decide these — ours must match ANSI/Spark semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_join_null_keys_never_match(spark):
    a = spark.createDataFrame([(None, 1), ("k", 2)], "k string, va int")
    b = spark.createDataFrame([(None, 10), ("k", 20)], "k string, vb int")
    inner = a.join(b, a.k.eqNullSafe(b.k), "inner")
    plain = a.join(b, a.k == b.k, "inner")
    assert plain.count() == 1  # NULL = NULL is not true
    assert inner.count() == 2  # eqNullSafe (<=>) matches nulls explicitly


def test_groupby_nulls_form_one_group(spark):
    df = spark.createDataFrame([(None, 1), (None, 2), ("x", 3)], "k string, v int")
    got = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == {None: 3, "x": 3}


def test_aggregates_skip_nulls(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "v double")
    row = df.agg(
        F.count("v").alias("cnt"),
        F.count(F.lit(1)).alias("cnt_star"),
        F.avg("v").alias("mean"),
    ).collect()[0]
    assert (row["cnt"], row["cnt_star"]) == (2, 3)
    assert row["mean"] == 2.0  # avg over non-null only


def test_set_ops_treat_null_as_equal(spark):
    a = spark.createDataFrame([(None,), ("x",)], "k string")
    b = spark.createDataFrame([(None,), ("y",)], "k string")
    assert a.intersect(b).count() == 1  # NULL intersects NULL (distinct semantics)
    assert a.exceptAll(b).count() == 1  # only "x" remains


def test_orderby_nulls_position(spark):
    df = spark.createDataFrame([(2.0,), (None,), (1.0,)], "v double")
    asc = [r["v"] for r in df.orderBy(F.asc_nulls_first("v")).collect()]
    desc = [r["v"] for r in df.orderBy(F.desc_nulls_last("v")).collect()]
    assert asc == [None, 1.0, 2.0]
    assert desc == [2.0, 1.0, None]


def test_window_lag_null_vs_missing(spark):
    """A NULL produced by lag-at-boundary and a NULL stored in the data are
    indistinguishable downstream — the validity filter must drop both
    (the pandas NaN parity the feature plan relies on)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0)], "k string, t long, v double"
    )
    w = Window.partitionBy("k").orderBy("t")
    out = df.select("t", F.lag("v").over(w).alias("prev"))
    got = {r["t"]: r["prev"] for r in out.collect()}
    assert got[1] is None  # boundary null
    assert got[3] is None  # data null propagated
    assert got[2] == 10.0


def test_rbo_rank_index_never_null(spark, tmp_path):
    """rbo_ranking_similarity looks up each doc's suffix weight with
    ``element_at(<literal array>, greatest(ra, rb))``. A doc with a NULL
    score in both top-k lists must rank like the oracle's CASE WHEN ..
    ELSE 0 count (rank 1), not reach element_at with a NULL index, whose
    codegen returns an element instead of NULL."""
    import duckdb
    import pandas as pd

    from weatherdatapipeline_spark.queries import ORACLES, QUERIES

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c", "x y", None],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": pd.array([5, 3, None], dtype="Int64"),
        }
    ).to_parquet(tmp_path / "documents.parquet")
    [got] = QUERIES["rbo_ranking_similarity"](spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    [want] = con.execute(ORACLES["rbo_ranking_similarity"]).fetchall()
    assert tuple(got) == want
