"""Round-6 batch 5: MoM growth, streaming left-outer join semantics,
incremental join-view maintenance."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F


def test_mom_growth_missing_month_yields_null(spark):
    # revenue in 2024-01 and 2024-03; 2024-02 absent -> March growth NULL
    rows = [
        (1, "2024-01-05", 100.0),
        (2, "2024-01-20", 50.0),
        (3, "2024-03-10", 300.0),
    ]
    o = spark.createDataFrame(rows, "o_orderkey long, d string, o_totalprice double") \
        .withColumn("o_orderdate", F.to_timestamp("d"))
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("_mi")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    prev = m.select((F.col("_mi") + 1).alias("_mi"), F.col("revenue").alias("_prev"))
    out = {
        (r.year, r.month): (r.revenue, r.growth_abs)
        for r in m.join(prev, "_mi", "left").select(
            (F.col("_mi") / 12).cast("long").alias("year"),
            (F.col("_mi") % 12 + 1).cast("long").alias("month"),
            "revenue",
            F.round(F.col("revenue") - F.col("_prev"), 2).alias("growth_abs"),
        ).collect()
    }
    assert out[(2024, 1)] == (150.0, None)
    assert out[(2024, 3)] == (300.0, None)  # no adjacent prior month


def test_stream_loj_null_emission_gated_by_min_watermark(spark):
    """Null rows emit only for clicks older than the GLOBAL watermark,
    which is the MIN over both branches' (max event time - delay) —
    pinned here because the oracle model depends on it."""
    path = f"/tmp/loj_sem_{uuid.uuid4().hex[:8]}"
    # clicks every 10 min through 200 min; one view at 300 min for another
    # user drives the view-branch watermark; click branch max = 200 min
    rows = [(i, 600 * i, 7, "click") for i in range(1, 21)] + [
        (99, 18000, 8, "view")
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, ts_s long, user_id long, event_type string"
        )
        .withColumn("ts", F.timestamp_seconds("ts_s"))
        .drop("ts_s")
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    try:
        stream = spark.readStream.schema(df.schema).parquet(path)
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        views = stream.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("vu"), F.col("ts").alias("view_ts")
        )
        l = clicks.withWatermark("click_ts", "120 minutes")
        r = views.withWatermark("view_ts", "120 minutes")
        j = l.join(
            r,
            (l["user_id"] == r["vu"])
            & (r["view_ts"] >= F.expr("click_ts - interval 60 minutes"))
            & (r["view_ts"] <= l["click_ts"]),
            "leftOuter",
        )
        from weatherdatapipeline_spark.streaming.jobs import (
            run_available_now_to_memory,
        )

        name = "loj" + uuid.uuid4().hex[:8]
        run_available_now_to_memory(j, name, "append")
        out = spark.sql(f"SELECT * FROM {name}").collect()
        nulls = sorted(
            int(r.click_ts.timestamp()) for r in out if r.view_ts is None
        )
        # click wm = 12000 - 7200 = 4800; view wm = 18000 - 7200 = 10800;
        # global = min = 4800 -> nulls for clicks strictly below 4800
        assert nulls == [600 * i for i in range(1, 8)]
    finally:
        shutil.rmtree(path, ignore_errors=True)


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "jv")


def test_join_view_matches_oneshot_and_replay_is_idempotent(spark, tmp_table_root):
    from weatherdatapipeline_spark.sources.upsert import (
        UpsertTable,
        maintain_join_view,
    )

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 7.0), (3, 10, 9.0), (4, 30, 1.0)],
        "fk long, dk long, x double",
    )
    dim = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "a")], "dk long, seg string"
    )
    t = UpsertTable(spark, tmp_table_root, "v", key="fk", partition_col="seg")
    maintain_join_view(t, fact.filter("fk % 2 = 0"), dim, "dk", batch_id=0)
    maintain_join_view(t, fact.filter("fk % 2 = 1"), dim, "dk", batch_id=1)
    # replay batch 1: must be skipped, not double-merged
    v_before = t.current_version
    maintain_join_view(t, fact.filter("fk % 2 = 1"), dim, "dk", batch_id=1)
    assert t.current_version == v_before

    got = {(r.fk, r.dk, r.x, r.seg) for r in t.read().collect()}
    want = {
        (r.fk, r.dk, r.x, r.seg) for r in fact.join(dim, "dk").collect()
    }
    assert got == want and len(got) == 4
