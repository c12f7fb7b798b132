"""Structured Streaming semantics tests (ST1-ST6) using a file source at a
tmp path drained with trigger(availableNow) into memory sinks."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.streaming.jobs import (
    dedup_late_data,
    latest_per_key_updates,
    run_available_now_to_memory,
    session_counts,
    tumbling_stats,
)

SCHEMA = "event_id long, ts timestamp, user_id string, value double"


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def stream_source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    rows = [
        (1, ts("2024-01-01T10:00:00"), "u1", 1.0),
        (1, ts("2024-01-01T10:00:00"), "u1", 1.0),  # exact duplicate (ST5)
        (2, ts("2024-01-01T10:02:00"), "u1", 2.0),
        (3, ts("2024-01-01T10:07:00"), "u2", 3.0),
        (4, ts("2024-01-01T10:11:00"), "u1", 4.0),
        (5, ts("2024-01-01T12:00:00"), "u2", 5.0),  # separate session
    ]
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)
    def make():
        return spark.readStream.schema(SCHEMA).parquet(path)
    return make


def test_st5_watermark_dedup(spark, stream_source):
    out = dedup_late_data(stream_source(), "ts", ["event_id", "user_id"])
    run_available_now_to_memory(out, "dedup_sink", "append")
    rows = spark.sql("SELECT * FROM dedup_sink").collect()
    assert len(rows) == 5  # 6 input rows, 1 exact duplicate dropped


def test_st3_latest_per_key_complete_mode(spark, stream_source):
    out = latest_per_key_updates(stream_source(), "user_id", "ts")
    run_available_now_to_memory(out, "latest_sink", "complete")
    got = {r["user_id"]: r["event_id"] for r in spark.sql("SELECT * FROM latest_sink").collect()}
    assert got == {"u1": 4, "u2": 5}


def test_st4_tumbling_stats(spark, stream_source):
    out = tumbling_stats(stream_source(), "ts", "value", window="5 minutes")
    run_available_now_to_memory(out, "tumbling_sink", "append")
    rows = spark.sql(
        "SELECT window_start, total_records, avg_value FROM tumbling_sink ORDER BY window_start"
    ).collect()
    got = [(r["window_start"].isoformat(), r["total_records"], r["avg_value"]) for r in rows]
    # append mode emits a window only once the watermark passes its end; the
    # final 12:00 window is still open when the stream drains, so it stays in
    # state — correct late-data semantics, asserted deliberately
    assert got == [
        ("2024-01-01T10:00:00", 3, 1.3333),  # 1,1-dup,2 (no dedup in this job)
        ("2024-01-01T10:05:00", 1, 3.0),
        ("2024-01-01T10:10:00", 1, 4.0),
    ]


def test_st6_session_windows(spark, stream_source):
    out = session_counts(stream_source(), "ts", "user_id", gap="30 minutes")
    run_available_now_to_memory(out, "session_sink", "append")
    rows = spark.sql("SELECT user_id, cnt FROM session_sink ORDER BY user_id, cnt").collect()
    # u1: one session (10:00-10:11 within 30-min gaps) of 4 rows; u2: the
    # 10:07 session closes when the watermark (12:00 - 10min) passes its gap
    # end, but u2's 12:00 session is still open at drain → held in state
    assert [(r["user_id"], r["cnt"]) for r in rows] == [("u1", 4), ("u2", 1)]


def test_stream_stream_join_time_bounded(spark, stream_source):
    from weatherdatapipeline_spark.streaming.jobs import stream_stream_join

    # left = the raw events; right = the same stream shifted: join each event
    # to events of the same user within the preceding 5 minutes
    left = stream_source().select("user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id"))
    right = stream_source().select("user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id"))
    out = stream_stream_join(left, right, "user_id", "l_ts", "r_ts", max_lag="5 minutes")
    run_available_now_to_memory(
        out.select("l_id", "r_id"), "ssjoin_sink", "append"
    )
    got = {(r["l_id"], r["r_id"]) for r in spark.sql("SELECT * FROM ssjoin_sink").collect()}
    # u1 events at 10:00(x2 dup), 10:02, 10:11; u2 at 10:07, 12:00.
    # pairs (l,r) with r in [l-5min, l]: self-pairs + (2,1)x2 + dup cross-pairs;
    # 10:11 is >5min after 10:02 → only its self-pair
    assert (2, 1) in got
    assert (4, 2) not in got  # 9 min gap exceeds max_lag
    assert all((l, l) in got for l in (1, 2, 3, 4, 5))  # self-joins at lag 0


def test_streaming_etl_four_sinks(spark, tmp_path_factory):
    """ST1 end-to-end: the reference's whole per-interval ETL as a
    foreachBatch job — all four sinks written per micro-batch."""
    from weatherdatapipeline_spark.sources.catalog import TableCatalog
    from weatherdatapipeline_spark.sources.synthetic import synthetic_weather
    from weatherdatapipeline_spark.streaming.jobs import streaming_etl

    src = str(tmp_path_factory.mktemp("etl_src"))
    root = str(tmp_path_factory.mktemp("etl_cat"))
    weather = synthetic_weather(spark, n_batches=4)
    weather.write.mode("overwrite").parquet(src)

    cat = TableCatalog(spark, root)
    stream = spark.readStream.schema(weather.schema).parquet(src)
    q = streaming_etl(stream, cat, available_now=True)
    q.awaitTermination()

    assert cat.read("raw_weather").count() == 40
    assert cat.read("current_weather").count() == 10  # one row per city
    assert cat.read("weather_batches").count() == 40
    stats = cat.read("weather_statistics").collect()
    assert sum(r["total_records"] for r in stats) == 40
    assert set(cat.list_tables()) >= {
        "raw_weather", "current_weather", "weather_batches", "weather_statistics",
    }


def test_stateful_checkpoint_recovery(spark, tmp_path_factory):
    """Stop a stateful streaming query between two runs and restart it from
    its checkpoint: window state must resume, not reset, and neither the
    first run's input nor its output may repeat — the exactly-once story a
    100 TB pipeline depends on."""
    src = str(tmp_path_factory.mktemp("ckpt_in"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_state"))
    out_dir = str(tmp_path_factory.mktemp("ckpt_out"))

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            tumbling_stats(stream, "ts", "value", window="5 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["window_start"], r["total_records"], r["avg_value"], r["min_value"], r["max_value"])
            for r in spark.read.parquet(out_dir).collect()
        )

    spark.createDataFrame(
        [
            (1, ts("2024-01-01T09:40:00"), "u1", 5.0),
            (2, ts("2024-01-01T10:00:00"), "u1", 10.0),
            (3, ts("2024-01-01T10:01:00"), "u1", 20.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    closed = (ts("2024-01-01T09:40:00"), 1, 5.0, 5.0, 5.0)
    # watermark 09:51: the 09:40 window is emitted, the 10:00 one stays in state
    assert run_once() == [closed]

    spark.createDataFrame(
        [(4, ts("2024-01-01T10:02:00"), "u1", 30.0), (5, ts("2024-01-01T10:30:00"), "u1", 1.0)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    # restart: only the new file is read, and 10:30 closes the 10:00 window.
    # It counts the rows of both runs once each: a reset state would give 1
    # row, a replayed first file 5, and a restart from scratch would emit
    # the 09:40 window twice.
    assert run_once() == [closed, (ts("2024-01-01T10:00:00"), 3, 20.0, 10.0, 30.0)]


def test_stage_events_stream_invalidates_on_source_change(spark, tmp_path):
    """Round-4 postmortem guard: the staged streaming copy must rebuild
    when the source events.parquet is regenerated, not serve stale data
    forever behind a bare isdir() check."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weatherdatapipeline_spark.queries import _stage_events_stream

    def write_events(vals):
        t = pa.table(
            {
                "event_id": pa.array(list(range(len(vals))), type=pa.int64()),
                "ts": pa.array([1704067200_000_000 + i for i in range(len(vals))],
                               type=pa.timestamp("us")),
                "user_id": pa.array([1] * len(vals), type=pa.int64()),
                "event_type": pa.array(["t"] * len(vals), type=pa.string()),
                "value": pa.array([float(v) for v in vals], type=pa.float64()),
                "props": pa.array(["{}"] * len(vals), type=pa.string()),
            }
        )
        pq.write_table(t, str(tmp_path / "events.parquet"))

    write_events([1.0, 2.0])
    _, path = _stage_events_stream(spark, str(tmp_path))
    assert spark.read.parquet(path).count() == 2

    # regenerate the source with different contents, newer mtime
    write_events([1.0, 2.0, 3.0])
    os.utime(str(tmp_path / "events.parquet"))
    _, path = _stage_events_stream(spark, str(tmp_path))
    assert spark.read.parquet(path).count() == 3, "stale staged copy served"

    shutil.rmtree(path, ignore_errors=True)


def test_streaming_funnel_steps_ordered_conversion(spark, tmp_path_factory):
    """Planted funnel: one user converts in order, one does the steps out
    of order, one stops at view. The first 24h window closes when the
    far-future row pushes the watermark; the open final window stays in
    state (append-mode semantics, like the other windowed jobs)."""
    from weatherdatapipeline_spark.streaming.jobs import windowed_funnel_steps

    schema = "event_id long, ts timestamp, user_id string, event_type string"
    rows = [
        (1, ts("2024-01-01T01:00:00"), "conv", "view"),
        (2, ts("2024-01-01T02:00:00"), "conv", "click"),
        (3, ts("2024-01-01T03:00:00"), "conv", "purchase"),
        (4, ts("2024-01-01T02:00:00"), "ooo", "click"),   # click BEFORE view
        (5, ts("2024-01-01T03:00:00"), "ooo", "view"),
        (6, ts("2024-01-01T04:00:00"), "ooo", "purchase"),
        (7, ts("2024-01-01T05:00:00"), "viewer", "view"),
        (8, ts("2024-01-05T00:00:00"), "late", "view"),   # watermark pusher
    ]
    path = str(tmp_path_factory.mktemp("funnel_in"))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(schema).parquet(path)
    out = windowed_funnel_steps(
        stream, "ts", "user_id", "event_type",
        steps=("view", "click", "purchase"),
        window="24 hours", watermark="1 hours",
    )
    run_available_now_to_memory(out, "funnel_sink", "append")
    rows = spark.sql(
        "SELECT user_id, t_view, t_click, t_purchase FROM funnel_sink"
    ).collect()
    got = {r["user_id"]: r for r in rows}
    # only the first (closed) window is emitted: 3 users, not 'late'
    assert set(got) == {"conv", "ooo", "viewer"}
    c = got["conv"]
    assert c["t_view"] < c["t_click"] < c["t_purchase"]
    o = got["ooo"]
    assert o["t_click"] < o["t_view"]  # order predicate must reject
    assert got["viewer"]["t_click"] is None
    assert got["viewer"]["t_purchase"] is None
