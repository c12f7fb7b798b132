"""Structured Streaming re-expression of the reference's scheduler-driven
micro-batching (SURVEY.md §2.9).

The reference "streams" by re-running the whole ETL every 5 minutes from
APScheduler (scheduler.py:20-49). Here the same cadence is a native
``trigger(processingTime="5 minutes")`` micro-batch pipeline, plus the
capabilities the reference lacks outright:

- ST2 event-time semantics (`withWatermark` on the observation time)
- ST3 latest-per-key state (update-mode agg or foreachBatch upsert)
- ST4 per-window aggregate emission (tumbling windows)
- ST5 late/duplicate handling (watermark + dropDuplicates) — the
  reference appends unconditionally (load.py:42): re-polls duplicate rows
- ST6 sliding and session windows

Every job is an ordinary DataFrame plan run on a stream — one engine for
batch and stream, no second hand-written stream-operator surface. The
scheduled ETL (``streaming_etl``) hands each micro-batch to the batch
loader ``sources.catalog.load_batch``, so its sinks write through the same
TableCatalog paths the batch engine reads.

State-at-scale notes: every stateful op here keys its state by a bounded
domain (city / user_id) and carries a watermark so state is evicted —
unbounded state is the streaming analogue of a cartesian join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def micro_batch_trigger(writer: DataStreamWriter, minutes: int = 5) -> DataStreamWriter:
    """ST1: the reference's 5-minute cadence (scheduler.py:49)."""
    return writer.trigger(processingTime=f"{minutes} minutes")


def dedup_late_data(
    stream: DataFrame,
    event_time: str,
    keys: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST5: watermarked exact dedup — the capability gap the reference has
    (unconditional append). State holds one entry per key within the
    watermark horizon, then is evicted."""
    return stream.withWatermark(event_time, watermark).dropDuplicates(
        [*keys, event_time]
    )


def latest_per_key_updates(stream: DataFrame, key: str, event_time: str) -> DataFrame:
    """ST3 (agg form): latest full row per key as an update-mode stream —
    ``max_by(struct(*), event_time)`` keeps ONE struct per key in state."""
    return (
        stream.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[c for c in stream.columns if c != key]), F.col(event_time)
            ).alias("_row")
        )
        .select(key, "_row.*")
    )


def tumbling_stats(
    stream: DataFrame,
    event_time: str,
    value_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST4: per-window aggregate emission (the reference's per-batch stats
    doc, load.py:93-115, with event-time windows instead of arrival
    batches). Append-mode-compatible thanks to the watermark."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("total_records"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
            F.round(F.min(value_col), 4).alias("min_value"),
            F.round(F.max(value_col), 4).alias("max_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "total_records",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    event_time: str,
    key: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST6: sliding-window counts per key."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window, slide).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), key, "cnt")
    )


def session_counts(
    stream: DataFrame,
    event_time: str,
    key: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST6: session windows (gap-based) per key."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.session_window(event_time, gap).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key,
            "cnt",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Stream-stream inner join with bounded state: both sides are
    watermarked AND the join carries a time-range predicate
    (right within [left - max_lag, left]), so each side's state buffer is
    evicted once the other stream's watermark passes — without the range
    condition, stream-stream state grows forever."""
    l = left.withWatermark(left_time, watermark)
    r = right.withWatermark(right_time, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_time] >= F.expr(f"{left_time} - interval {max_lag}"))
        & (r[right_time] <= l[left_time])
    )
    return l.join(r, cond, "inner")


def streaming_etl(
    stream: DataFrame,
    catalog,
    ts_col: str = "timestamp",
    trigger_minutes: int | None = None,
    available_now: bool = False,
    checkpoint: str | None = None,
):
    """The reference's whole scheduler-driven ETL (scheduler.py:20-49 →
    extract→transform→load every 5 min) as ONE foreachBatch streaming job:
    each non-empty micro-batch goes through ``sources.catalog.load_batch``,
    which appends the raw log, upserts the latest-per-city snapshot,
    appends the batch partition, and appends the single-row stats
    document — the four sinks of SURVEY §3.1, incrementally, issued as
    four concurrent jobs (foreachBatch hands the sink an ordinary batch
    frame).

    Pass ``trigger_minutes=5`` for the reference cadence (ST1) or
    ``available_now=True`` to drain a backlog and stop.
    """
    from ..sources.catalog import load_batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # persisted first, so the emptiness probe also fills the cache of
        # the batch's first partition (all of a one-file poll batch)
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                load_batch(catalog, batch_df)
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_minutes:
        writer = micro_batch_trigger(writer, trigger_minutes)
    return writer.start()


def run_available_now_to_memory(
    stream_out: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
):
    """Test/driver helper: drain all available input through the streaming
    plan into an in-memory sink and block until done.

    r14 perf: the checkpoint for this throwaway drain goes to a fresh
    tmpfs directory when the host has one (`/dev/shm` on Linux) instead
    of the disk-backed java.io.tmpdir default — state-store delta/commit
    files are the drain's hottest I/O and their durability is moot for a
    single-shot availableNow run (a real deployment checkpoints to its
    own fast durable store; this helper's checkpoint dies with the call).
    Fresh dir per call — no state ever carries across runs.

    ``shuffle_partitions`` (r14, guide §2.2): state-store instances — and
    per-batch commit costs — scale with the query's shuffle partition
    count, which a streaming query locks in at START from the session
    conf (fresh checkpoint here, so no cross-run layout pin). Callers
    that know the drained volume pass a width sized to it; the session
    value is restored after the drain."""
    import shutil
    import tempfile

    ckpt = None
    writer = (
        stream_out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        ckpt = tempfile.mkdtemp(prefix="wdp_drain_ckpt_", dir="/dev/shm")
        writer = writer.option("checkpointLocation", ckpt)
    spark = stream_out.sparkSession
    prev_sp = None
    if shuffle_partitions:
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return q


def windowed_type_counts(
    stream: DataFrame,
    event_time: str,
    key_col: str,
    window: str = "6 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling per-(window, key) counts in append mode — the streaming
    HALF of a windowed top-k: ranking cannot ride a streaming aggregate
    in append mode (a rank is only final when the window closes), so the
    stream maintains the counts and the finisher ranks each CLOSED
    window downstream (foreachBatch / the drained batch) — the standard
    two-stage pattern for streaming leaderboards."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), key_col, "cnt")
    )


def windowed_funnel_steps(
    stream: DataFrame,
    event_time: str,
    user_col: str,
    type_col: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    window: str = "24 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling per-(window, user) FIRST-timestamp-per-funnel-step in
    append mode — the streaming half of an ordered-funnel conversion
    count. The ordering predicate (view before click before purchase)
    cannot ride the streaming aggregate (it is only decidable at window
    close), so the stream maintains one conditional min-timestamp per
    step — a plain windowed aggregation every engine scales, the same
    two-stage split as windowed_type_counts — and the batch finisher
    applies the step-order test to each CLOSED window.

    Returns (window_start, user, step timestamps...) with one column
    ``t_<step>`` per step (NULL when the user never performed it in the
    window)."""
    aggs = [
        F.min(F.when(F.col(type_col) == s, F.col(event_time))).alias(f"t_{s}")
        for s in steps
    ]
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window).alias("win"), F.col(user_col))
        .agg(*aggs)
        .select(F.col("win.start").alias("window_start"), user_col, *[f"t_{s}" for s in steps])
    )
