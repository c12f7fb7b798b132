"""Round-7 operator tests: layout tier (Z-order, range shards), Holt
recurrence, fuzzy decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators import layout as L


def test_morton_interleave_known_values(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (15, 15)], "a INT, b INT"
    )
    got = [
        r["z"]
        for r in df.select(
            L.morton_interleave(F.col("a"), F.col("b"), 4).alias("z")
        ).collect()
    ]

    def ref(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == [ref(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5), (15, 15)]]
    # spot values: interleave(1,0)=1, interleave(0,1)=2, interleave(15,15)=255
    assert got[1] == 1 and got[2] == 2 and got[4] == 255


def test_fixed_width_bucket_clamps_and_degenerate(spark):
    df = spark.createDataFrame(
        [(0.0,), (50.0,), (100.0,), (-5.0,), (105.0,)], "x DOUBLE"
    )
    out = df.select(
        L.fixed_width_bucket(F.col("x"), F.lit(0.0), F.lit(100.0), 16).alias("b"),
        L.fixed_width_bucket(F.col("x"), F.lit(7.0), F.lit(7.0), 16).alias("deg"),
    ).collect()
    bands = [r["b"] for r in out]
    assert bands[0] == 0 and bands[2] == 15  # max clamps into top band
    assert bands[3] == 0 and bands[4] == 15  # out-of-domain clamps
    assert all(r["deg"] == 0 for r in out)  # degenerate domain, no div/0


def test_zorder_file_summary_locality(spark, sf_dir):
    """Filing by zfile = z >> 2 drops exactly bit 0 of each dimension:
    every file's band spread must be <= 1 on BOTH dims — the pruning
    guarantee Z-ordering exists for."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    banded = ev.select(
        F.least(F.lit(15), F.floor(F.col("value") / 8).cast("int")).alias("vb"),
        F.floor((F.dayofmonth(F.col("ts").cast("timestamp")) - 1) / 2)
        .cast("int")
        .alias("db"),
    ).filter(F.col("vb") >= 0)
    out = L.zorder_file_summary(
        banded, F.col("vb"), F.col("db"), id_cols=[], bits=4, rows_per_file_shift=2
    ).collect()
    assert len(out) > 1
    for r in out:
        assert r["max_a"] - r["min_a"] <= 1, r
        assert r["max_b"] - r["min_b"] <= 1, r


def test_sampled_range_shards_balanced_and_ordered(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = L.sampled_range_shards(
        orders, F.col("o_totalprice").cast("double"), n_shards=8,
        sample_mod=4, id_col="o_orderkey",
    ).orderBy("shard").collect()
    assert [r["shard"] for r in out] == list(range(8))
    # shards tile the key space: each shard's max <= next shard's min
    for lo, hi in zip(out, out[1:]):
        assert lo["max_key"] <= hi["min_key"]
    # sampled boundaries give rough balance: no shard more than 3x ideal
    total = sum(r["n"] for r in out)
    assert max(r["n"] for r in out) <= 3 * total / 8


def test_holt_linear_hand_computed(spark):
    from weatherdatapipeline_spark.operators.stateful import holt_linear

    rows = [("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 30.0)]
    df = spark.createDataFrame(rows, "k STRING, t INT, v DOUBLE")
    out = {
        r["t"]: (r["level"], r["trend"])
        for r in holt_linear(df, "k", "t", "v", alpha=0.5, beta=0.3).collect()
    }
    # t1: l=10, b=0
    assert out[1] == (10.0, 0.0)
    # t2: l = .5*20 + .5*(10+0) = 15 ; b = .3*(15-10) + .7*0 = 1.5
    assert out[2] == (15.0, 1.5)
    # t3: l = .5*30 + .5*(15+1.5) = 23.25 ; b = .3*(23.25-15) + .7*1.5
    l3 = 0.5 * 30 + 0.5 * (15 + 1.5)
    b3 = 0.3 * (l3 - 15) + 0.7 * 1.5
    assert out[3] == (l3, b3)


def test_fuzzy_decontaminate_flags_planted_paraphrase(spark):
    from weatherdatapipeline_spark.operators.dedup import (
        fuzzy_decontaminate_portable,
    )

    base = "the quick brown fox jumps over the lazy dog near the old stone bridge every morning"
    para = base.replace("every morning", "each morning")  # near-dup of eval
    other = "completely different content about spark partitioning and shuffle behavior at scale"
    corpus = spark.createDataFrame(
        [(1, para), (2, other)], "doc_id LONG, text STRING"
    )
    evals = spark.createDataFrame([(100, base)], "doc_id LONG, text STRING")
    got = fuzzy_decontaminate_portable(corpus, evals, threshold=0.3).collect()
    assert [(r["corpus_doc"], r["eval_doc"]) for r in got] == [(1, 100)]
    assert got[0]["jaccard"] > 0.5


def test_data_contract_audit_detects_planted_violations(spark, tmp_path, monkeypatch):
    """The audit must DETECT, not vacuously pass: plant an FK orphan, a
    null user, an out-of-range discount, a duplicate order key, and an
    empty document in a miniature star schema and assert each counter."""
    import os

    from weatherdatapipeline_spark.queries import QUERIES

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, 100.0, "1996-01-01")], "o_orderkey LONG, o_totalprice DOUBLE, o_orderdate STRING"
    ).unionByName(
        spark.createDataFrame([(1, 90.0, "1996-01-02")],
                              "o_orderkey LONG, o_totalprice DOUBLE, o_orderdate STRING")
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(1, 0.05), (999, 0.5)], "l_orderkey LONG, l_discount DOUBLE"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame([(7, 3)], "c_custkey LONG, c_nationkey LONG").write.mode(
        "overwrite"
    ).parquet(f"{d}/customer.parquet")
    spark.createDataFrame([(0,)], "n_nationkey LONG").write.mode("overwrite").parquet(
        f"{d}/nation.parquet"
    )
    spark.createDataFrame(
        [(1, None, 50.0), (2, 5, 500.0)],
        "event_id LONG, user_id LONG, value DOUBLE",
    ).selectExpr(
        "event_id", "user_id", "value", "timestamp'2024-01-01' as ts"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [(1, "  "), (2, "real text")], "doc_id LONG, text STRING"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["constraint_name"]: r["n_violations"]
        for r in QUERIES["data_contract_audit"](spark, d).collect()
    }
    assert got["fk_lineitem_orderkey"] == 1      # l_orderkey=999 orphan
    assert got["fk_customer_nationkey"] == 1     # nationkey=3 missing
    assert got["not_null_events_user"] == 1
    assert got["range_lineitem_discount"] == 1   # 0.5 > 0.1
    assert got["unique_orders_orderkey"] == 1    # o_orderkey=1 twice
    assert got["nonempty_documents_text"] == 1   # whitespace-only doc
    assert got["range_events_value_0_100"] == 1  # value=500
