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


def test_stateful_ewma_across_batches(spark, tmp_path_factory):
    """The EWMA recurrence must carry across micro-batches: two files
    processed as separate batches (maxFilesPerTrigger=1) yield the same
    smoothed series as one batch over all rows."""
    import time as _time

    from weatherdatapipeline_spark.streaming.jobs import ewma_stateful

    path = str(tmp_path_factory.mktemp("ewma_in"))
    batch1 = [(1, ts("2024-01-01T10:00:00"), "u1", 10.0), (2, ts("2024-01-01T10:01:00"), "u1", 20.0)]
    batch2 = [(3, ts("2024-01-01T10:02:00"), "u1", 20.0), (4, ts("2024-01-01T10:03:00"), "u1", 0.0)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)  # distinct mtimes → deterministic file order
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode("append").parquet(path)

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    out = ewma_stateful(stream.select("user_id", "ts", "value"), "user_id", "ts", "value", alpha=0.5)
    q = (
        out.writeStream.format("memory").queryName("ewma_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["ts"]: r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_sink WHERE user_id='u1'").collect()
    }
    # recurrence over ALL FOUR rows: 10, 15, 17.5, 8.75 — state crossed batches
    assert got[ts("2024-01-01T10:00:00")] == 10.0
    assert got[ts("2024-01-01T10:01:00")] == 15.0
    assert got[ts("2024-01-01T10:02:00")] == 17.5
    assert got[ts("2024-01-01T10:03:00")] == 8.75


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
    """Kill a stateful streaming query between batches and restart from its
    checkpoint: state must resume (EWMA continues the recurrence), not
    reset — the exactly-once story a 100 TB pipeline depends on."""
    from weatherdatapipeline_spark.streaming.jobs import ewma_stateful

    src = str(tmp_path_factory.mktemp("ckpt_in"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_state"))
    out_dir = str(tmp_path_factory.mktemp("ckpt_out"))

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = ewma_stateful(
            stream.select("user_id", "ts", "value"), "user_id", "ts", "value", alpha=0.5
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "u1", 10.0), (2, ts("2024-01-01T10:01:00"), "u1", 20.0)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # first run: processes batch 1, checkpoints state, stops

    spark.createDataFrame(
        [(3, ts("2024-01-01T10:02:00"), "u1", 20.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: must see ONLY the new file

    got = {r["ts"]: r["ewma"] for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == 3  # no reprocessing duplicates (exactly-once sink rows)
    # recurrence continued across the restart: 10 -> 15 -> 17.5 (NOT 20.0,
    # which is what a reset state would produce for the third row)
    assert got[ts("2024-01-01T10:02:00")] == 17.5


def test_rocksdb_state_store_parity(spark, stream_source):
    """Same stateful plan, RocksDB-backed state: identical emissions.

    At 100 TB the HDFS-backed store's on-heap state is the scaling wall;
    this pins that the provider swap is semantics-preserving."""
    from weatherdatapipeline_spark.streaming.jobs import (
        ROCKSDB_PROVIDER,
        use_rocksdb_state,
    )

    use_rocksdb_state(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        out = session_counts(stream_source(), "ts", "user_id", gap="30 minutes")
        run_available_now_to_memory(out, "rocksdb_session_sink", "append")
        rows = spark.sql(
            "SELECT user_id, cnt FROM rocksdb_session_sink ORDER BY user_id, cnt"
        ).collect()
        # matches test_st6_session_windows exactly (default-provider run)
        assert [(r["user_id"], r["cnt"]) for r in rows] == [("u1", 4), ("u2", 1)]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_corpus_ingest_neardup(spark, tmp_path_factory):
    """Streaming corpus front door: micro-batches probe the persisted
    MinHash band index; only novel docs land in the corpus, and the index
    grows with the admitted docs so later batches dedup against them."""
    from weatherdatapipeline_spark.streaming.jobs import streaming_corpus_ingest

    src = str(tmp_path_factory.mktemp("docs_src"))
    corpus = str(tmp_path_factory.mktemp("corpus_out")) + "/docs"
    index = str(tmp_path_factory.mktemp("corpus_idx")) + "/bands"
    ckpt = str(tmp_path_factory.mktemp("corpus_ckpt"))
    schema = "doc_id LONG, text STRING"

    batch1 = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different text about spark engines here"),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_corpus_ingest(
            stream, corpus, index, checkpoint=ckpt, available_now=True
        )
        q.awaitTermination()

    drain()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2}

    batch2 = [
        (10, "The  quick brown FOX jumps over the lazy dog"),  # dup of 1
        (11, "zzz yyy xxx www vvv uuu ttt sss"),               # novel
        (12, "zzz yyy xxx www vvv uuu ttt sss"),               # intra-batch dup
    ]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()  # restart from checkpoint: batch1 files are NOT reprocessed

    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 11}
    # the index holds band rows for exactly the admitted docs
    idx_ids = {r["doc_id"] for r in spark.read.parquet(index).collect()}
    assert idx_ids == {1, 2, 11}


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


def test_streaming_cms_sketch_merges_batches(spark, tmp_path_factory):
    """The stored sketch after two drained micro-batches must equal the
    batch-built sketch over the CONCATENATED data (cell-wise merge
    property), stay bounded at depth*width rows, and point-estimates
    must upper-bound exact counts."""
    from weatherdatapipeline_spark.operators.stats import cms_estimate, count_min_sketch
    from weatherdatapipeline_spark.streaming.jobs import streaming_cms_sketch

    src = str(tmp_path_factory.mktemp("cms_src"))
    sk = str(tmp_path_factory.mktemp("cms_sk")) + "/sketch"
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))
    schema = "item STRING"
    b1 = [("a",)] * 5 + [("b",)] * 3
    b2 = [("a",)] * 2 + [("c",)] * 7
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_cms_sketch(
        stream, sk, checkpoint=ckpt, depth=4, width=64, available_now=True
    )
    q.awaitTermination()

    stored = spark.read.parquet(sk)
    assert stored.count() <= 4 * 64
    ref = count_min_sketch(
        spark.createDataFrame(b1 + b2, schema), depth=4, width=64
    )
    got = {(r["row"], r["bucket"]): r["cnt"] for r in stored.collect()}
    want = {(r["row"], r["bucket"]): r["cnt"] for r in ref.collect()}
    assert got == want
    probes = spark.createDataFrame([("a",), ("b",), ("c",)], schema)
    est = {r["item"]: r["cms_count"] for r in
           cms_estimate(stored.select("row", "bucket", "cnt"), probes, width=64).collect()}
    assert est["a"] >= 7 and est["b"] >= 3 and est["c"] >= 7


def _have_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def test_token_quota_gate_plan_and_schema(spark):
    """transformWithStateInPandas plan construction works without the
    optional protobuf runtime dep: streaming flag + output schema."""
    from weatherdatapipeline_spark.streaming.jobs import token_quota_gate_stateful

    doc_schema = "source string, ts timestamp, doc_id long, n_tokens long"
    stream = (
        spark.readStream.format("rate").load()
        .select(
            F.lit("web").alias("source"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("doc_id"),
            (F.col("value") % 100).alias("n_tokens"),
        )
    )
    out = token_quota_gate_stateful(stream, "source", "ts", "doc_id", "n_tokens", 100)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "source", "ts", "doc_id", "n_tokens", "cum_tokens", "admitted",
    ]
    assert "TransformWithStateInPySpark" in out._jdf.queryExecution().analyzed().toString()


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="protobuf not installed: transformWithState state protocol unavailable",
)
def test_token_quota_gate_transformwithstate(spark, tmp_path_factory):
    """Spark 4 StatefulProcessor v2 (transformWithStateInPandas): the
    per-source token-budget gate must (a) carry the cumulative count
    across micro-batches and (b) equal the batch prefix rule
    sum(tokens) OVER (PARTITION BY source ORDER BY ts, doc) <= budget."""
    import time as _time

    from weatherdatapipeline_spark.streaming.jobs import (
        token_quota_gate_stateful,
        use_rocksdb_state,
    )

    doc_schema = "source string, ts timestamp, doc_id long, n_tokens long"
    path = str(tmp_path_factory.mktemp("quota_in"))
    b1 = [
        ("web", ts("2024-01-01T10:00:00"), 1, 40),
        ("web", ts("2024-01-01T10:01:00"), 2, 50),
        ("books", ts("2024-01-01T10:00:30"), 3, 90),
    ]
    b2 = [
        ("web", ts("2024-01-01T10:02:00"), 4, 20),   # 40+50+20 > 100 -> reject
        ("web", ts("2024-01-01T10:03:00"), 5, 5),    # prefix rule: still rejected
        ("books", ts("2024-01-01T10:02:30"), 6, 10), # 90+10 <= 100 -> admit
    ]
    spark.createDataFrame(b1, doc_schema).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    spark.createDataFrame(b2, doc_schema).coalesce(1).write.mode("append").parquet(path)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)  # transformWithState requires RocksDB
    try:
        stream = spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(path)
        out = token_quota_gate_stateful(
            stream, "source", "ts", "doc_id", "n_tokens", budget=100
        )
        q = (
            out.writeStream.format("memory").queryName("quota_sink")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            r["doc_id"]: (r["cum_tokens"], r["admitted"])
            for r in spark.sql("SELECT * FROM quota_sink").collect()
        }
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    assert got == {
        1: (40, 1), 2: (90, 1), 3: (90, 1),
        4: (110, 0), 5: (115, 0), 6: (100, 1),
    }

    # batch twin: identical admitted set from a window cumulative sum
    from pyspark.sql import Window

    allrows = spark.createDataFrame(b1 + b2, doc_schema)
    w = Window.partitionBy("source").orderBy("ts", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    batch = allrows.select(
        "doc_id",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        (F.sum("n_tokens").over(w) <= 100).cast("int").alias("admitted"),
    )
    batch_map = {r["doc_id"]: (r["cum_tokens"], r["admitted"]) for r in batch.collect()}
    assert batch_map == got


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


def test_streaming_ivf_maintenance_drift_refresh(spark, tmp_path_factory):
    """IVF index maintenance (VERDICT r13 item 6): batch 1 seeds the
    quantizer and appends below the drift bound; batch 2 pushes a
    cluster's member mean past the bound, firing a re-seed (version
    bump, centroids := member means, full reassignment); batch 3 lands
    under the bound again; a checkpoint-wiped replay is a no-op (the
    anti-join idempotence idiom)."""
    import shutil

    from weatherdatapipeline_spark.streaming.jobs import streaming_ivf_maintenance

    src = str(tmp_path_factory.mktemp("ivf_src"))
    index = str(tmp_path_factory.mktemp("ivf_idx")) + "/index"
    cents = str(tmp_path_factory.mktemp("ivf_cent")) + "/centroids"
    stats = str(tmp_path_factory.mktemp("ivf_stats")) + "/stats"
    ckpt = str(tmp_path_factory.mktemp("ivf_ckpt"))
    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"

    def drain():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = streaming_ivf_maintenance(
            stream, index, cents, stats,
            n_clusters=2, drift_q6_bound=100_000,
            checkpoint=ckpt, available_now=True,
        )
        q.awaitTermination()

    batch1 = [
        (1, [1.0, 0.0]),  # seed -> centroid 0
        (2, [0.0, 1.0]),  # seed -> centroid 1
        (3, [0.9, 0.1]),  # joins cluster 0
        (4, [0.1, 0.9]),  # joins cluster 1
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    c0 = spark.read.parquet(cents)
    assert c0.agg(F.max("version")).collect()[0][0] == 0  # drift 70711 < bound
    assert spark.read.parquet(index).count() == 4

    # drifted arrivals: cluster-0 mean moves to (0.9, 0.2333) -> drift
    # ~253859 q6 > bound -> refresh fires
    batch2 = [(5, [0.8, 0.6]), (6, [0.6, 0.8])]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    cv = spark.read.parquet(cents)
    assert cv.agg(F.max("version")).collect()[0][0] == 1
    got = {
        r["centroid_id"]: r["centroid_vec"]
        for r in cv.filter(F.col("version") == 1).collect()
    }
    exp0 = [(1.0 + 0.9 + 0.8) / 3, (0.0 + 0.1 + 0.6) / 3]
    exp1 = [(0.0 + 0.1 + 0.6) / 3, (1.0 + 0.9 + 0.8) / 3]
    assert got[0] == pytest.approx(exp0, abs=1e-9)
    assert got[1] == pytest.approx(exp1, abs=1e-9)
    idx = spark.read.parquet(index)
    assert idx.filter(F.col("version") != 1).count() == 0  # fully reassigned
    sizes = {r["centroid_id"]: r["n"] for r in
             idx.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()}
    assert sizes == {0: 3, 1: 3}

    # under-bound arrival: no new version
    batch3 = [(7, [0.9, 0.2])]
    spark.createDataFrame(batch3, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(cents).agg(F.max("version")).collect()[0][0] == 1
    assert spark.read.parquet(index).count() == 7

    # wipe the checkpoint: every file replays, but every id is already
    # indexed -> the anti-join makes the replay a structural no-op
    before = sorted(
        (r["vec_id"], r["centroid_id"], r["version"])
        for r in spark.read.parquet(index).collect()
    )
    shutil.rmtree(ckpt)
    drain()
    after = sorted(
        (r["vec_id"], r["centroid_id"], r["version"])
        for r in spark.read.parquet(index).collect()
    )
    assert after == before
    assert spark.read.parquet(cents).agg(F.max("version")).collect()[0][0] == 1


def test_streaming_ivf_refresh_matches_batch_twin(spark, tmp_path_factory):
    """Stream==batch parity for the refreshed index: one availableNow
    batch over the sf0.001 embeddings with bound=0 (always refresh) must
    land exactly where the batch recomputation lands — same seed
    quantizer (8 lowest vec_ids = vec_id<8 here), centroids == member
    means, index == reassignment to those means."""
    from weatherdatapipeline_spark.operators.similarity import assign_to_centroids
    from weatherdatapipeline_spark.queries import _t
    from weatherdatapipeline_spark.streaming.jobs import streaming_ivf_maintenance

    emb = _t(spark, "/root/testdata/sf0.001", "embeddings")
    src = str(tmp_path_factory.mktemp("ivf2_src"))
    emb.coalesce(1).write.mode("overwrite").parquet(src)
    index = str(tmp_path_factory.mktemp("ivf2_idx")) + "/index"
    cents = str(tmp_path_factory.mktemp("ivf2_cent")) + "/centroids"
    stats = str(tmp_path_factory.mktemp("ivf2_stats")) + "/stats"
    ckpt = str(tmp_path_factory.mktemp("ivf2_ckpt"))

    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>, label LONG"
    ).parquet(src)
    q = streaming_ivf_maintenance(
        stream.select("vec_id", "embedding"), index, cents, stats,
        n_clusters=8, drift_q6_bound=0, checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination()

    assert spark.read.parquet(cents).agg(F.max("version")).collect()[0][0] == 1

    # batch twin: seed assign -> DECIMAL member means -> reassign
    dec = "decimal(38,12)"
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    a0 = assign_to_centroids(emb, seeds).join(emb.select("vec_id", "embedding"), "vec_id")
    means = (
        a0.select("centroid_id", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("centroid_id", "dim")
        .agg(F.sum(F.col("x").cast("double").cast(dec)).alias("s"),
             F.count(F.lit(1)).alias("n"))
        .withColumn("m", F.col("s").cast("double") / F.col("n"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
        .select("centroid_id", F.transform("p", lambda e: e["m"]).alias("centroid_vec"))
    )
    got_c = {
        r["centroid_id"]: r["centroid_vec"]
        for r in spark.read.parquet(cents).filter(F.col("version") == 1).collect()
    }
    exp_c = {r["centroid_id"]: r["centroid_vec"] for r in means.collect()}
    assert set(got_c) == set(exp_c)
    for k in exp_c:
        assert got_c[k] == pytest.approx(exp_c[k], abs=1e-12)

    exp_assign = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_centroids(emb, means).collect()
    }
    got_assign = {
        r["vec_id"]: r["centroid_id"] for r in spark.read.parquet(index).collect()
    }
    assert got_assign == exp_assign
