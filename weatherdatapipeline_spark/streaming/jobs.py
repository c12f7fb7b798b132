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

State-at-scale notes: every stateful op here keys its state by a bounded
domain (city / user_id) and carries a watermark so state is evicted —
unbounded state is the streaming analogue of a cartesian join. foreachBatch
upserts write through the same TableCatalog paths the batch engine reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def micro_batch_trigger(writer: DataStreamWriter, minutes: int = 5) -> DataStreamWriter:
    """ST1: the reference's 5-minute cadence (scheduler.py:49)."""
    return writer.trigger(processingTime=f"{minutes} minutes")


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark, changelog: bool = True) -> None:
    """Switch stateful streaming to the RocksDB state store.

    The default HDFS-backed store keeps every key in executor heap — fine
    for the test corpus, fatal at 100 TB where latest-per-key /
    session-window state spans hundreds of millions of keys. RocksDB spills
    state to local SSD (off-heap, bounded memory) and, with changelog
    checkpointing, uploads only the per-batch delta instead of re-snapshot-
    ting the full store. State semantics are identical — asserted by the
    RocksDB/HDFS parity test in tests/test_streaming.py.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog else "false",
    )


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


def dedup_within_watermark(
    stream: DataFrame,
    event_time: str,
    keys: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST5 (jittered-redelivery form): ``dropDuplicatesWithinWatermark``
    dedups on the KEY ALONE for events whose event-times fall within the
    watermark delay of each other — the at-least-once-delivery case where
    a retried event arrives with a slightly different timestamp, which
    exact ``dropDuplicates([key, ts])`` cannot catch (the timestamps
    differ) and ``dropDuplicates([key])`` alone would hold state forever.
    State per key is evicted once the watermark passes first-seen + delay,
    so memory stays bounded by the horizon, not the stream length."""
    return stream.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
        keys
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


def upsert_snapshot_sink(batch_df: DataFrame, batch_id: int, path: str, key: str, ts: str):
    """ST3 (foreachBatch form): per-micro-batch upsert of the snapshot
    table — reduce the batch to latest-per-key, union with the stored
    snapshot, keep the winner, overwrite. This is the reference's
    current_weather replace semantics made incremental."""
    from ..operators.relational import latest_per_key

    spark = batch_df.sparkSession
    incoming = latest_per_key(batch_df, key, ts)
    try:
        existing = spark.read.parquet(path)
        merged = latest_per_key(existing.unionByName(incoming), key, ts)
    except Exception:  # first batch: no snapshot yet
        merged = incoming
    # small state table: coalesce to avoid many tiny files, rewrite atomically
    merged.coalesce(1).write.mode("overwrite").parquet(path)


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


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich each micro-batch against a (slowly
    changing) dimension table. The static side is re-read per micro-batch —
    at scale keep it broadcastable or pre-bucketed; no state is kept."""
    return stream.join(F.broadcast(dim), on, "left")


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


def ewma_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: the
    EWMA recurrence carried ACROSS micro-batches — per-key state is one
    float (the last smoothed value), updated each batch.

    This is the template for any custom sequential operator Structured
    Streaming lacks (SURVEY §2.9/§2.10): state is explicit, bounded (one
    struct per key), and the per-batch work is an Arrow-batched pandas fold.
    Assumes per-key event-time order across batches (true for replayed
    logs and per-entity ordered sources); out-of-order input would need
    event buffering in state until the watermark closes.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            stream.schema[key],
            StructField(ts_col, TimestampType()),
            StructField(value_col, DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("last", DoubleType())])

    def fn(key_tuple, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col)
            out = []
            for v in pdf[value_col]:
                last = float(v) if last is None else alpha * float(v) + (1 - alpha) * last
                out.append(last)
            pdf = pdf.copy()
            pdf["ewma"] = out
            yield pdf[[c.name for c in out_schema.fields[:-1]] + ["ewma"]].assign(
                **{key: key_tuple[0]}
            )
        state.update((last,))

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


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


def streaming_corpus_ingest(
    doc_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
    available_now: bool = False,
    trigger_minutes: int | None = None,
):
    """Continuously ingest a document stream into a training corpus with
    incremental NEAR-dup dedup: each micro-batch probes the persisted
    MinHash band index (operators/dedup.py), appends only novel docs to
    ``corpus_path``, and appends the admitted docs' band rows to
    ``index_path`` — the streaming front door of a training-data lake.

    Scale: per batch, signature cost is linear in the BATCH; the
    corpus-sized index participates only through the (band, bucket)
    equi-join (bucket the index table on (band, bucket) in deployment to
    make that probe shuffle-free). Exactly-once across restarts comes from
    the checkpointed foreachBatch; re-processed batches re-probe the index
    their previous run extended, so replayed docs dedup against themselves
    — idempotent appends without a transaction log.
    """
    import os

    from ..operators.dedup import dedup_incremental_neardup, minhash_band_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if os.path.isdir(index_path) and any(
            f.endswith(".parquet") for f in os.listdir(index_path)
        ):
            index = spark.read.parquet(index_path)
        else:
            index = minhash_band_index(
                batch_df.limit(0), id_col, text_col
            )  # empty, right schema
        # the sink owns the batch's band index: built and persisted here,
        # released with `novel` once this batch is written, so no cache
        # outlives its micro-batch
        batch_index = minhash_band_index(batch_df, id_col, text_col).persist()
        novel, updated = dedup_incremental_neardup(
            batch_df, index, id_col, text_col, batch_index=batch_index
        )
        novel = novel.persist()
        try:
            n = novel.count()
            if n:
                novel.write.mode("append").parquet(corpus_path)
                # append only THIS batch's admitted band rows (updated =
                # old index ∪ new rows; subtracting by provenance is a
                # narrow join on the admitted ids)
                new_rows = updated.join(
                    novel.select(id_col).distinct(), id_col, "left_semi"
                )
                new_rows.write.mode("append").parquet(index_path)
        finally:
            novel.unpersist()
            batch_index.unpersist()

    writer = doc_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_minutes:
        writer = micro_batch_trigger(writer, trigger_minutes)
    return writer.start()


def streaming_ivf_maintenance(
    vec_stream: DataFrame,
    index_path: str,
    centroids_path: str,
    stats_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    drift_q6_bound: int = 100_000,
    checkpoint: str | None = None,
    available_now: bool = False,
    trigger_minutes: int | None = None,
):
    """Streaming ANN-index maintenance (VERDICT r13 item 6): the IVF
    twin of ``streaming_corpus_ingest``. Each micro-batch assigns new
    vectors to the CURRENT coarse-quantizer centroids and appends them
    to the index; when the monitored centroid drift — the L2 distance
    between each cluster's stored centroid and the running mean of its
    assigned members — exceeds ``drift_q6_bound`` (units: 1e-6), the
    job re-seeds the quantizer (one Lloyd step: centroids := member
    means), REASSIGNS the index, and bumps the version. Without this,
    continuous ingest silently degrades probe recall as the corpus
    distribution slides away from the centroids it was bucketed under
    (the batch `embedding_centroid_drift` query measures the same
    phenomenon; `ivf_refresh_decision` is this job's strict-oracled
    decision twin).

    Scale design: per batch the work is batch-linear — assignment is a
    broadcast of k centroids, and the drift monitor reads the STATS
    table (per-cluster per-dim component sums, k*d rows per batch,
    DECIMAL-accumulated), never the corpus-sized index. Only a fired
    refresh touches the full index (one reassignment pass + one stats
    rebuild), which is the rare amortized event by construction.
    Exactly-once across restarts: the checkpointed foreachBatch plus an
    anti-join on already-indexed ids makes replayed batches no-ops
    (same idempotence idiom as the corpus ingest).
    """
    import os

    from ..operators.similarity import assign_to_centroids

    dec = "decimal(38,12)"

    def _has_parquet(path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )

    def _write_stats(spark, assigned_vecs: DataFrame, version: int) -> None:
        """Append per-cluster per-dim component sums for these rows."""
        comp = assigned_vecs.select(
            "centroid_id", F.posexplode(vec_col).alias("dim", "x")
        )
        stats = comp.groupBy("centroid_id", "dim").agg(
            F.sum(F.col("x").cast("double").cast(dec)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        stats.withColumn("version", F.lit(version).cast("long")).write.mode(
            "append"
        ).parquet(stats_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, vec_col)

        if _has_parquet(centroids_path):
            cents = spark.read.parquet(centroids_path)
            version = cents.agg(F.max("version")).collect()[0][0]
            cents = cents.filter(F.col("version") == version).select(
                "centroid_id", "centroid_vec"
            )
        else:
            # deterministic seed: the n_clusters lowest-id vectors of the
            # first batch (bounded k-row driver closure, like the batch
            # twin's vec_id < k seed)
            from pyspark.sql import Window as _W

            version = 0
            seed = batch.orderBy(id_col).limit(n_clusters)
            # global window over <= k rows (the limit already bounds it)
            cents = seed.select(
                (F.row_number().over(_W.orderBy(id_col)) - 1)
                .cast("long")
                .alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
            cents.withColumn("version", F.lit(0).cast("long")).write.mode(
                "overwrite"
            ).parquet(centroids_path)
            cents = spark.read.parquet(centroids_path).select(
                "centroid_id", "centroid_vec"
            )

        # idempotent replay: drop ids the index already holds
        if _has_parquet(index_path):
            existing = spark.read.parquet(index_path).select(id_col)
            novel = batch.join(existing, id_col, "left_anti")
        else:
            novel = batch
        # localCheckpoint, not persist: the plan reads index_path (the
        # anti-join) and the next action runs AFTER the index append — a
        # cache miss would lazily recompute novel as EMPTY against the
        # just-appended files (persist() does not truncate lineage)
        assigned = (
            assign_to_centroids(novel, cents, id_col=id_col, vec_col=vec_col)
            .join(novel, id_col)
            .localCheckpoint(eager=True)
        )
        if assigned.isEmpty():
            return
        assigned.select(id_col, vec_col, "centroid_id").withColumn(
            "version", F.lit(version).cast("long")
        ).write.mode("append").parquet(index_path)
        _write_stats(spark, assigned, version)

        # drift monitor over the stats table (k*d-bounded, never the index)
        stats = (
            spark.read.parquet(stats_path)
            .filter(F.col("version") == version)
            .groupBy("centroid_id", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        cexp = spark.read.parquet(centroids_path).filter(
            F.col("version") == version
        ).select("centroid_id", F.posexplode("centroid_vec").alias("dim", "c"))
        delta = F.col("s").cast("double") / F.col("n") - F.col("c")
        drift = (
            stats.join(cexp, ["centroid_id", "dim"])
            .select("centroid_id", (delta * delta).cast(dec).alias("d2"))
            .groupBy("centroid_id")
            .agg(
                F.round(F.sqrt(F.sum("d2").cast("double")) * 1e6)
                .cast("long")
                .alias("drift_q6")
            )
        )
        worst = drift.agg(F.max("drift_q6")).collect()[0][0]
        if worst is None or worst <= drift_q6_bound:
            return

        # refresh: one Lloyd step from the stats means, reassign the index
        new_version = version + 1
        new_cents = (
            stats.withColumn("m", F.col("s").cast("double") / F.col("n"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
            .select(
                "centroid_id",
                F.transform("p", lambda e: e["m"]).alias("centroid_vec"),
            )
        )
        # same lineage-truncation rationale: new_cents derives from
        # stats_path, which this branch appends to further down
        new_cents = new_cents.localCheckpoint(eager=True)
        try:
            index = spark.read.parquet(index_path).select(id_col, vec_col)
            reassigned = assign_to_centroids(
                index, new_cents, id_col=id_col, vec_col=vec_col
            ).join(index, id_col)
            staged = reassigned.select(id_col, vec_col, "centroid_id").withColumn(
                "version", F.lit(new_version).cast("long")
            )
            # localCheckpoint severs the lineage to index_path BEFORE the
            # overwrite of that same path (an evicted cache partition
            # would otherwise recompute from the half-overwritten source;
            # a real lake would write-to-sibling-and-swap instead)
            staged = staged.localCheckpoint(eager=True)
            staged.write.mode("overwrite").parquet(index_path)
            new_cents.withColumn(
                "version", F.lit(new_version).cast("long")
            ).write.mode("append").parquet(centroids_path)
            fresh = spark.read.parquet(index_path).filter(
                F.col("version") == new_version
            )
            # rebuild stats from the reassigned index at the new version
            comp = fresh.select(
                "centroid_id", F.posexplode(vec_col).alias("dim", "x")
            )
            comp.groupBy("centroid_id", "dim").agg(
                F.sum(F.col("x").cast("double").cast(dec)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).withColumn("version", F.lit(new_version).cast("long")).write.mode(
                "append"
            ).parquet(stats_path)
        finally:
            # release the checkpoint blocks (localCheckpoint stores at
            # the persist layer; unpersist is the matching release)
            new_cents.unpersist()

    writer = vec_stream.writeStream.foreachBatch(sink)
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


def streaming_quality_gate(
    doc_stream: DataFrame,
    accepted_path: str,
    rejected_path: str,
    checkpoint: str | None = None,
    available_now: bool = False,
    min_words: int = 50,
):
    """Streaming corpus quality gate: every micro-batch is scored with
    the Gopher document rules (operators/quality.py) and routed —
    passing docs append to ``accepted_path``, failing docs append to
    ``rejected_path`` WITH their rule booleans, so rejected data stays
    auditable (why was this dropped?) instead of vanishing. Docs whose
    flags are NULL (e.g. NULL text) are routed to REJECTED — NULL must
    not slip through either filter.

    foreachBatch because one input feeds two sinks per batch; the
    scoring itself is the same map-only projection as the batch query
    (gopher_quality_report), so per-batch cost is one scan of the
    batch. Delivery is AT-LEAST-ONCE: a crash between an append and the
    checkpoint commit replays the batch and appends those rows again
    (plain parquet appends are not transactional). Every row therefore
    carries the micro-batch id in ``_batch_id`` so downstream consumers
    can dedup on (doc_id, _batch_id) — or route through
    ``sources/upsert.py::UpsertTable`` where exactly-once matters.
    """
    from ..operators.quality import gopher_quality_flags

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flags = gopher_quality_flags(batch_df, min_words=min_words).persist()
        try:
            # NULL-safe routing: coalesce(passes, False) so a NULL-text
            # doc is rejected, never silently dropped by both filters
            ids = flags.select(
                "doc_id", F.coalesce(F.col("passes"), F.lit(False)).alias("_ok")
            )
            docs = batch_df.join(ids, "doc_id")
            docs.filter("_ok").drop("_ok").withColumn(
                "_batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(accepted_path)
            batch_df.join(
                flags.join(ids, "doc_id").filter(~F.col("_ok")).drop("_ok"),
                "doc_id",
            ).withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(rejected_path)
        finally:
            flags.unpersist()

    writer = doc_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _is_replayed_batch(prior: DataFrame, batch_id: int, checkpoint: str | None) -> bool:
    """Replay guard for the read-modify-write sketch sinks (CMS / KMV /
    Merkle): a batch is a genuine replay — already merged, skip it —
    only when the stored ``_last_batch_id`` is >= this batch AND the
    store was written under the SAME checkpoint. A stream restarted
    with a NEW checkpoint against an existing store resets batch ids to
    0, and those batches carry fresh data that must merge (ADVICE r9:
    the old id-only guard silently dropped them). Stores written before
    ``_run_id`` existed keep the old id-only semantics."""
    row = prior.agg(
        F.max("_last_batch_id").alias("last"),
        *(
            [F.max("_run_id").alias("run")]
            if "_run_id" in prior.columns
            else [F.lit(None).cast("string").alias("run")]
        ),
    ).collect()[0]
    same_run = "_run_id" not in prior.columns or row["run"] == (checkpoint or "")
    return same_run and row["last"] is not None and row["last"] >= batch_id


def streaming_cms_sketch(
    item_stream: DataFrame,
    sketch_path: str,
    checkpoint: str | None = None,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
    available_now: bool = False,
):
    """Maintain a Count-Min sketch over a stream: each micro-batch's
    partial sketch (operators/stats.py::count_min_sketch — depth*width
    cells, bounded) MERGES into the stored sketch by cell-wise addition,
    the defining property that makes CMS the standard streaming
    frequency structure. State is the ~depth*width-row parquet table —
    constant-size regardless of how much data has streamed through — so
    a restart resumes from the stored cells plus the checkpointed source
    offsets.

    foreachBatch because the merge is read-modify-write of the sketch
    table (overwrite of a bounded table, not an append). Exactly-once
    per micro-batch: the overwrite is idempotent only across distinct
    batches, so the sketch table carries ``_last_batch_id`` and a
    replayed batch (at-least-once delivery after a crash) is skipped
    rather than double-counted."""
    from ..operators.stats import count_min_sketch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        partial = count_min_sketch(batch_df, item_col=item_col, depth=depth, width=width)
        # existence is probed explicitly: a blanket except around the read
        # would turn ANY transient storage error into "first batch" and
        # silently reset every accumulated count. A genuinely unreadable
        # stored sketch must raise and fail the batch (the checkpoint
        # retries it), never zero the state.
        import os

        if os.path.exists(sketch_path):
            prior = spark.read.parquet(sketch_path)
            if _is_replayed_batch(prior, batch_id, checkpoint):
                return  # replayed batch: already merged
            merged = (
                prior.select("row", "bucket", "cnt")
                .unionByName(partial)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        else:  # first batch: nothing stored yet
            merged = partial
        out = merged.withColumn("_last_batch_id", F.lit(batch_id)).withColumn(
            "_run_id", F.lit(checkpoint or "")
        )
        # bounded table: collect-and-rewrite avoids reading the file being
        # overwritten (depth*width rows by construction)
        rows = out.collect()
        spark.createDataFrame(rows, out.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sketch_path)

    writer = item_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_rollup(
    event_stream: DataFrame,
    table,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """Continuous materialized-rollup maintenance: every micro-batch
    folds into the persistent per-(key, day) aggregate table via
    sources/upsert.py::maintain_daily_rollup — the streaming face of the
    same decomposable-aggregate algebra (dashboards read the bounded
    rollup, never the raw stream history). The micro-batch id is
    threaded through, so a replayed batch after a crash (foreachBatch
    is at-least-once) is SKIPPED by the stored _last_batch_id guard
    instead of double-counted — same pattern as streaming_cms_sketch."""
    from ..sources.upsert import maintain_daily_rollup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        maintain_daily_rollup(
            table, batch_df, key_col=key_col, ts_col=ts_col,
            value_col=value_col, batch_id=batch_id,
        )

    writer = event_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_aggregate_with_timeout(
    stream: DataFrame,
    key: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom session aggregation with EVENT-TIME TIMEOUT emission
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout): a
    user's open session accumulates silently across micro-batches and is
    emitted exactly once — when the watermark passes last_event + gap and
    the state TIMES OUT. This is the state-timeout half of the custom-
    stateful API that ewma_stateful (NoTimeout) doesn't exercise, and the
    imperative twin of the built-in session_window aggregation: reach for
    it when the per-session logic outgrows an aggregate (e.g. emitting
    derived per-session features at close time).

    State per key is three scalars (start, last, n) — bounded regardless
    of session length; timeout eviction is what keeps abandoned keys from
    accumulating forever. Returns (key, session_start, session_end, n)
    rows, emitted ONLY at session close.
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_ms = _interval_ms(gap)
    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ms", LongType()),
            StructField("last_ms", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fn(k, pdfs, state):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key: [k[0]],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(last_ms, unit="ms")],
                    "n": [n],
                }
            )
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            ts_ms = (pdf[ts_col].astype("int64") // 1_000_000).tolist()
            for t in ts_ms:
                start_ms = t if start_ms is None else min(start_ms, t)
                last_ms = t if last_ms is None else max(last_ms, t)
                n += 1
        if last_ms is not None:
            state.update((start_ms, last_ms, n))
            state.setTimeoutTimestamp(last_ms + gap_ms)
        return
        yield  # pragma: no cover - generator form required by the API

    w = stream.withWatermark(ts_col, watermark)
    return w.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _interval_ms(spec: str) -> int:
    """'30 minutes' -> 1_800_000. Supports seconds/minutes/hours."""
    qty, unit = spec.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60_000,
            "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000}[unit]
    return int(qty) * mult


def holt_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Streaming twin of operators/stateful.py::holt_linear: the COUPLED
    (level, trend) recurrence carried across micro-batches via
    applyInPandasWithState — per-key state is the two floats, so a
    restarted or long-running stream continues the exact same smoothing
    the batch operator would produce over the concatenated input
    (asserted in tests/test_streaming.py). Same op-order discipline as
    the batch loop, so batch and stream agree bitwise. State is bounded
    (one 2-float struct per key); per-batch work is an Arrow-batched
    fold."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            stream.schema[key],
            StructField(ts_col, TimestampType()),
            StructField(value_col, DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("l", DoubleType()), StructField("b", DoubleType())]
    )
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta

    def fn(key_tuple, pdf_iter, state: GroupState):
        l, b = (state.get[0], state.get[1]) if state.exists else (None, None)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col)
            levels, trends = [], []
            for v in pdf[value_col]:
                x = float(v)
                if l is None:
                    l, b = x, 0.0
                else:
                    lp = l
                    l = alpha * x + one_minus_a * (lp + b)
                    b = beta * (l - lp) + one_minus_b * b
                levels.append(l)
                trends.append(b)
            pdf = pdf.copy()
            pdf["level"] = levels
            pdf["trend"] = trends
            yield pdf[
                [c.name for c in out_schema.fields[:-2]] + ["level", "trend"]
            ].assign(**{key: key_tuple[0]})
        state.update((l, b))

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def token_quota_gate_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    doc_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Streaming per-source token-budget gate via the Spark 4
    StatefulProcessor v2 API (transformWithStateInPandas): per-key
    ValueState carries the cumulative token count across micro-batches;
    a document is ADMITTED while the running prefix total (itself
    included) stays within ``budget`` and flagged rejected after — the
    PREFIX rule, so the batch twin is exactly `sum(tokens) OVER
    (PARTITION BY key ORDER BY ts, doc) <= budget` (asserted by the
    stream==batch equivalence test). The corpus-ingest shape every
    budgeted pretraining mix needs at the streaming edge: stop taking
    from a source the moment its quota fills, keep an auditable
    rejected stream.

    Scale: state is ONE long per source key; rows sort by (ts, doc)
    inside each batch so admission is schedule-deterministic given the
    batch sequence. transformWithState requires the RocksDB state store
    (use_rocksdb_state) — which is also the 100 TB-correct choice.

    Optional-dep gate: EXECUTING the query needs the `protobuf` package
    (Spark's TransformWithState Python state-server protocol), absent
    from this sandbox — plan construction and schema are tested
    unconditionally, the live run is a skip-marked test that activates
    wherever protobuf is installed (same contract as the PIL image
    path).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            stream.schema[key],
            stream.schema[ts_col],
            stream.schema[doc_col],
            StructField(tokens_col, LongType()),
            StructField("cum_tokens", LongType()),
            StructField("admitted", IntegerType()),
        ]
    )

    class _QuotaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._cum = handle.getValueState("cum", "total LONG")

        def handleInputRows(self, key_tuple, rows, timer_values):
            total = int(self._cum.get()[0]) if self._cum.exists() else 0
            for pdf in rows:
                pdf = pdf.sort_values([ts_col, doc_col])
                toks = pdf[tokens_col].astype("int64")
                cums = total + toks.cumsum()
                out = pdf.copy()
                out[tokens_col] = toks
                out["cum_tokens"] = cums
                out["admitted"] = (cums <= budget).astype("int32")
                out[key] = key_tuple[0]
                if len(cums):
                    total = int(cums.iloc[-1])
                yield out[[f.name for f in out_schema.fields]]
            self._cum.update((total,))

        def close(self) -> None:
            pass

    return stream.groupBy(key).transformWithStateInPandas(
        statefulProcessor=_QuotaProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )


def streaming_kmv_sketch(
    row_stream: DataFrame,
    sketch_path: str,
    checkpoint: str | None = None,
    group_col: str = "event_type",
    id_col: str = "user_id",
    k: int = 64,
    available_now: bool = False,
):
    """Maintain per-group KMV distinct-count sketches over a stream: each
    micro-batch's local bottom-k (operators/stats.py::kmv_bottom_k)
    merges into the stored sketch by "union rows, keep the k smallest
    distinct again" — the exact identity the batch-side
    kmv_union_merge_audit query verifies, here driving unbounded-stream
    state. State is the k·|groups|-row parquet table — constant-size no
    matter how much data has streamed — so a streaming COUNT(DISTINCT)
    (not expressible as a native streaming agg without keeping every key)
    becomes a bounded-state job whose estimates are bit-identical to a
    batch sketch over the same rows (pytest pins stream == batch).

    Same foreachBatch read-modify-write contract as streaming_cms_sketch:
    the stored table carries ``_last_batch_id``; a replayed batch is
    skipped, a genuinely unreadable store raises (never silently resets
    state)."""
    from ..operators.stats import kmv_bottom_k

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        partial = kmv_bottom_k(batch_df, group_col, id_col, k=k)
        import os

        if os.path.exists(sketch_path):
            prior = spark.read.parquet(sketch_path)
            if _is_replayed_batch(prior, batch_id, checkpoint):
                return  # replayed batch: already merged
            both = prior.select(group_col, id_col, "h").unionByName(partial)
            # the merge IS another bottom-k: distinct ids, k smallest
            merged = kmv_bottom_k(both, group_col, id_col, k=k)
        else:  # first batch: nothing stored yet
            merged = partial
        out = merged.withColumn("_last_batch_id", F.lit(batch_id)).withColumn(
            "_run_id", F.lit(checkpoint or "")
        )
        # bounded table: collect-and-rewrite avoids reading the file being
        # overwritten (k rows per group by construction)
        rows = out.collect()
        spark.createDataFrame(rows, out.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sketch_path)

    writer = row_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_bottomk_sample(
    row_stream: DataFrame,
    sample_path: str,
    checkpoint: str | None = None,
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    k: int = 128,
    available_now: bool = False,
):
    """Maintain per-group bottom-k UNIFORM ROW SAMPLES (values attached)
    over a stream — the streaming twin of the batch
    ``bottomk_quantile_sketch`` query: the k rows with the smallest
    portable md5(id) per group are an order-independent simple random
    sample, and samples merge exactly like KMV sketches (bottom-k(A∪B)
    = bottom-k(bottom-k A ∪ bottom-k B), the identity the batch
    kmv_union_merge_audit pins). Each micro-batch's local bottom-k
    unions into the stored table and re-ranks — state stays at
    k·|groups| rows forever, and quantile estimates read from the store
    are BIT-IDENTICAL to a batch bottom-k over the same rows (pytest
    pins stream == batch).

    Same foreachBatch read-modify-write contract as the CMS/KMV/Merkle
    sinks: ``_last_batch_id`` + ``_run_id`` skip only genuine replays
    within one checkpoint; an unreadable store raises rather than
    silently resetting the sample."""

    def local_bottomk(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        du = (
            df.select(group_col, id_col, value_col)
            .filter(F.col(value_col).isNotNull())
            .distinct()
            .withColumn("h", h)
        )
        w = Window.partitionBy(group_col).orderBy("h", id_col)
        return (
            du.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        partial = local_bottomk(batch_df)
        import os

        if os.path.exists(sample_path):
            prior = spark.read.parquet(sample_path)
            if _is_replayed_batch(prior, batch_id, checkpoint):
                return  # replayed batch: already merged
            both = prior.select(group_col, id_col, value_col, "h").unionByName(
                partial
            )
            # the merge IS another bottom-k over the union (dedup by id
            # first: a row present in both store and batch is one row)
            merged = local_bottomk(both.drop("h"))
        else:  # first batch: nothing stored yet
            merged = partial
        out = merged.withColumn("_last_batch_id", F.lit(batch_id)).withColumn(
            "_run_id", F.lit(checkpoint or "")
        )
        rows = out.collect()  # bounded: k rows per group by construction
        spark.createDataFrame(rows, out.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sample_path)

    writer = row_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def page_hinkley_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    delta: float = 0.01,
):
    """Streaming Page-Hinkley drift detector via applyInPandasWithState —
    the stateful twin of the batch ``page_hinkley_drift`` query, whose
    recurrence (running mean / cumulative deviation / running min)
    becomes five floats of per-key state carried across micro-batches:
    (n, Σx, S, min S, max PH). Emits one row per observation with the
    PH statistic at that point, so an alerting sink can trigger the
    moment PH crosses λ rather than at end-of-day batch cadence.

    Same per-key event-time-order assumption as ewma_stateful (replayed
    logs / per-entity ordered sources); state is O(1) per key forever —
    the defining property that makes sequential detectors streamable."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            stream.schema[key],
            StructField(ts_col, TimestampType()),
            StructField(value_col, DoubleType()),
            StructField("ph", DoubleType()),
            StructField("max_ph", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("s", DoubleType()),
            StructField("min_s", DoubleType()),
            StructField("max_ph", DoubleType()),
        ]
    )

    def fn(key_tuple, pdf_iter, state: GroupState):
        import pandas as pd

        n, tot, s, min_s, max_ph = (
            state.get if state.exists else (0.0, 0.0, 0.0, float("inf"), 0.0)
        )
        # concatenate ALL of this key's chunks, then sort ONCE: Spark may
        # deliver a key's micro-batch rows as several pandas chunks, and
        # per-chunk sorting would process rows out of event-time order
        # within the batch, diverging from the batch twin (ADVICE r9)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
            phs, maxes = [], []
            for v in pdf[value_col]:
                x = float(v)
                n += 1.0
                tot += x
                s += x - tot / n - delta
                min_s = min(min_s, s)
                ph = s - min_s
                max_ph = max(max_ph, ph)
                phs.append(ph)
                maxes.append(max_ph)
            out = pdf.copy()
            out["ph"] = phs
            out["max_ph"] = maxes
            out[key] = key_tuple[0]
            yield out[[f.name for f in out_schema.fields]]
        state.update((n, tot, s, min_s, max_ph))

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def sprt_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    conv_col: str,
    p0: float = 0.10,
    p1: float = 0.15,
    alpha: float = 0.05,
    beta: float = 0.05,
):
    """Streaming Wald SPRT via applyInPandasWithState — the stateful twin
    of the batch ``sprt_daily_readout``: per-key state is two integers
    (observations, conversions) carried across micro-batches; every
    observation emits the cumulative log-likelihood ratio, the decision
    (+1 reject H0 / −1 accept / 0 continue), and a sticky stopped flag —
    so the alerting sink can end an experiment the moment the Wald bound
    is crossed instead of waiting for a batch readout.

    The LLR is recomputed from the integer state each step (c·ln(p1/p0)
    + (n−c)·ln((1−p1)/(1−p0))) — no float accumulates in state, so a
    replayed batch reproduces identical statistics bit-for-bit."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    l1 = math.log(p1 / p0)
    l2 = math.log((1 - p1) / (1 - p0))
    upper = math.log((1 - beta) / alpha)
    lower = math.log(beta / (1 - alpha))

    out_schema = StructType(
        [
            stream.schema[key],
            StructField(ts_col, TimestampType()),
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("llr", DoubleType()),
            StructField("decision", LongType()),
            StructField("stopped", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("stopped", LongType()),
        ]
    )

    def fn(key_tuple, pdf_iter, state: GroupState):
        import pandas as pd

        n, c, stopped = state.get if state.exists else (0, 0, 0)
        # concat-then-sort-once across chunks (same ordering contract as
        # page_hinkley_stateful — ADVICE r9)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        for pdf in [pd.concat(chunks, ignore_index=True).sort_values(ts_col)] if chunks else []:
            rows = {"n": [], "c": [], "llr": [], "decision": [], "stopped": []}
            for conv in pdf[conv_col]:
                n += 1
                c += int(conv)
                llr = c * l1 + (n - c) * l2
                decision = 1 if llr >= upper else (-1 if llr <= lower else 0)
                stopped = max(stopped, abs(decision))
                rows["n"].append(n)
                rows["c"].append(c)
                rows["llr"].append(llr)
                rows["decision"].append(decision)
                rows["stopped"].append(stopped)
            out = pdf[[key, ts_col]].copy()
            for col, vals in rows.items():
                out[col] = vals
            out[key] = key_tuple[0]
            yield out[[f.name for f in out_schema.fields]]
        state.update((n, c, stopped))

    return stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_merkle_fingerprints(
    row_stream: DataFrame,
    table_path: str,
    checkpoint: str | None = None,
    id_col: str = "event_id",
    buckets: int = 256,
    available_now: bool = False,
):
    """Maintain the Merkle reconciliation fingerprints incrementally: each
    micro-batch's per-bucket (count, Σ 32-bit md5 word) partials ADD
    cell-wise into the stored table — valid because the fingerprint is a
    commutative monoid over rows, the same property that lets the batch
    ``merkle_bucket_diff`` fold per partition. A replica can therefore
    keep its sync fingerprints current per micro-batch instead of
    re-scanning the table before every anti-entropy round; state is the
    ≤``buckets``-row parquet table regardless of stream volume.

    Same foreachBatch read-modify-write contract as the CMS/KMV sketch
    jobs: ``_last_batch_id`` skips replayed batches; an unreadable store
    raises rather than silently resetting fingerprints."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        partial = (
            batch_df.select(h.alias("word"))
            .select((F.col("word") % buckets).alias("bucket"), "word")
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("word").cast("long").alias("sum_h"),
            )
        )
        import os

        if os.path.exists(table_path):
            prior = spark.read.parquet(table_path)
            if _is_replayed_batch(prior, batch_id, checkpoint):
                return  # replayed batch: already folded in
            merged = (
                prior.select("bucket", "n", "sum_h")
                .unionByName(partial)
                .groupBy("bucket")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sum_h").cast("long").alias("sum_h"),
                )
            )
        else:
            merged = partial
        out = merged.withColumn("_last_batch_id", F.lit(batch_id)).withColumn(
            "_run_id", F.lit(checkpoint or "")
        )
        rows = out.collect()  # bounded: <= buckets rows
        spark.createDataFrame(rows, out.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(table_path)

    writer = row_stream.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
