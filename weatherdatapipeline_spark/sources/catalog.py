"""Table catalog: the Spark re-expression of the reference's four MongoDB
collection shapes (reference load.py:22-127, operators S5-S12) on
partitioned Parquet.

| Reference collection      | Here                                        |
|---------------------------|---------------------------------------------|
| raw_weather_data (append) | append write to `raw_weather`               |
| current_weather (replace) | overwrite write of latest-per-city snapshot |
| weather_batch_<ts> (/run) | ONE table partitioned by batch_id           |
| weather_statistics        | append to `weather_statistics`              |
| predictions               | append to `predictions` with pred_type tag  |

Per-batch *collections* become *partitions*: partition pruning turns
"latest batch" queries into single-directory scans, and the catalog stays
O(1) tables instead of O(runs) (SURVEY.md §1.1). At 100 TB, partitioning
is by date + batch — bounded directory fan-out, prunable by time range.

``load_batch`` is the one loader of a poll batch into the four sinks,
shared by the batch endpoint (``WeatherEngine.run_etl``) and the streaming
job (``streaming_etl``).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import latest_per_key
from ..operators.stats import batch_statistics
from ..session import run_concurrently


def batch_id_col(at: datetime):
    """The reference's batch-id format (load.py:32 strftime) of the
    instant ``at`` in the session time zone. The instant is taken once on
    the driver, not by each writing query, so every sink of one batch
    carries the same id."""
    return F.date_format(F.lit(at), "yyyyMMdd_HHmmss")


def load_batch(catalog, batch: DataFrame) -> DataFrame:
    """Load one poll batch into the four reference sinks (S5-S8): append
    the raw log, replace the latest-per-city snapshot, append the batch
    partition, append the one-row statistics. Returns that statistics
    frame (lazy, over ``batch``).

    The four writes read only ``batch``, none another's output, so they
    are issued concurrently as separate Spark jobs — on a poll-sized batch
    each write is mostly scheduling latency. The caller persists
    ``batch``. The batch id is taken once, so the raw log's ``batch_id``
    equals the batch partition's value. Each write goes through
    ``catalog``'s own method, so a wrapping catalog sees all four calls."""
    batch_time = datetime.now(timezone.utc)
    stats = batch_statistics(batch)
    run_concurrently(
        batch.sparkSession,
        lambda: catalog.append_raw(batch, batch_time),
        lambda: catalog.overwrite_current(batch),
        lambda: catalog.append_batch_partition(batch, batch_time),
        lambda: catalog.append_stats(stats),
    )
    return stats


class TableCatalog:
    """Parquet-directory catalog rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def read(self, name: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` for append sinks whose schema evolved
        (e.g. predictions, where eval rows add actual_* columns) — plain
        reads take one file's schema and may hide late columns."""
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(self.path(name))

    def list_tables(self) -> list[str]:
        """S11 catalog listing (reference load.py:162-176)."""
        import os

        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))
        )

    # --- the four reference sinks -------------------------------------

    def append_raw(self, df: DataFrame, batch_time: datetime, name: str = "raw_weather") -> None:
        """S5 append-only history log with ingestion metadata (P2);
        ``batch_id`` is ``batch_id_col(batch_time)``."""
        (
            df.withColumn("inserted_at", F.current_timestamp())
            .withColumn("batch_id", batch_id_col(batch_time))
            .write.mode("append")
            .parquet(self.path(name))
        )

    def overwrite_current(self, df: DataFrame, name: str = "current_weather") -> None:
        """S6 replace-snapshot: latest row per city, full overwrite
        (reference delete_many + insert_many, load.py:46-62)."""
        snap = latest_per_key(df, "city", "timestamp").withColumn(
            "updated_at", F.current_timestamp()
        ).withColumn("is_current", F.lit(True))
        snap.write.mode("overwrite").parquet(self.path(name))

    def append_batch_partition(
        self, df: DataFrame, batch_time: datetime, name: str = "weather_batches"
    ) -> None:
        """S7 per-batch sink as a partitioned write — `weather_batch_<ts>`
        collections become batch_id= partitions of one table, the value
        ``batch_id_col(batch_time)``."""
        (
            df.withColumn("batch_id", batch_id_col(batch_time))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(self.path(name))
        )

    def append_stats(self, stats_df: DataFrame, name: str = "weather_statistics") -> None:
        """S8 one-summary-row sink."""
        stats_df.write.mode("append").parquet(self.path(name))

    def append_predictions(
        self, preds: DataFrame, pred_type: str, name: str = "predictions"
    ) -> None:
        """S12 scored-rows sink with pred_type tag."""
        (
            preds.withColumn("pred_type", F.lit(pred_type))
            .withColumn("inserted_at", F.current_timestamp())
            .write.mode("append")
            .parquet(self.path(name))
        )

    def write_bucketed(
        self, df: DataFrame, name: str, bucket_col: str, n_buckets: int = 32
    ) -> None:
        """Bucketed managed table: pre-shuffles rows into ``n_buckets`` by
        hash(bucket_col) at write time, with per-bucket sort. A join or
        aggregation on ``bucket_col`` between two tables bucketed the same
        way runs WITHOUT a shuffle — at 100 TB this deletes the recurring
        exchange on a fact-fact join key (pay the shuffle once at ingest,
        never per query). See tests/test_scale_paths.py for the
        no-Exchange plan assertion."""
        (
            df.write.bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .mode("overwrite")
            .option("path", self.path(name))
            .saveAsTable(name)
        )

    def write_range_sorted(
        self, df: DataFrame, name: str, order_col: str, n_ranges: int = 32
    ) -> None:
        """Range-partitioned, per-file-sorted layout: the scalable form of
        a global sort. ``repartitionByRange`` samples the order column to
        pick ``n_ranges - 1`` balanced split points (no single-task sort
        anywhere), ``sortWithinPartitions`` orders each range locally —
        files are globally ordered BY RANGE and internally ordered by row.
        What it buys at 100 TB: parquet min/max zone maps become perfectly
        selective on ``order_col`` (a range predicate prunes to the one
        file that can match), and curriculum-style consumption (e.g. by
        length or quality) streams ranges in order without ever sorting
        the corpus in one task. See tests for the disjoint-file-ranges
        assertion."""
        (
            df.repartitionByRange(n_ranges, F.col(order_col))
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(self.path(name))
        )

    def write_zordered(
        self, df: DataFrame, name: str, col_a: str, col_b: str,
        bits: int = 16, n_ranges: int = 32,
    ) -> None:
        """Z-order (Morton-curve) layout on TWO columns — the lakehouse
        data-skipping trick (Delta's Z-ORDER BY) for workloads that
        filter on either or both of two dimensions: rank each column to
        a ``bits``-bit integer (percent_rank * 2^bits — rank-based, so
        arbitrary numeric distributions interleave uniformly), then
        interleave the bits into one Morton key and range-sort by it.
        Each file then covers a small RECTANGLE in (a, b) space, so
        parquet min/max zone maps prune on BOTH columns — a plain sort
        on one column leaves the other's min/max spanning everything.

        The two percent_rank windows are partition-less by necessity
        (global ranking) — acceptable as a WRITE-TIME layout job, the
        same trade `repartitionByRange`'s sampling makes; never use
        this shape in a query path. At true scale swap the exact ranks
        for approx-percentile bucket assignment (map-only)."""
        from pyspark.sql import Window as _W

        ra = F.floor(
            F.percent_rank().over(_W.orderBy(col_a)) * ((1 << bits) - 1)
        ).cast("long")
        rb = F.floor(
            F.percent_rank().over(_W.orderBy(col_b)) * ((1 << bits) - 1)
        ).cast("long")
        # interleave bit i of a into 2i+1, of b into 2i (classic Morton)
        z = None
        for i in range(bits):
            abit = F.shiftright(F.col("_ra"), i) % 2
            bbit = F.shiftright(F.col("_rb"), i) % 2
            term = (abit * F.lit(1 << (2 * i + 1))) + (bbit * F.lit(1 << (2 * i)))
            z = term if z is None else (z + term)
        (
            df.withColumn("_ra", ra)
            .withColumn("_rb", rb)
            .withColumn("_z", z)
            .repartitionByRange(n_ranges, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_ra", "_rb", "_z")
            .write.mode("overwrite")
            .parquet(self.path(name))
        )

    def compact(
        self, name: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Small-file compaction for append sinks. Streaming/micro-batch
        appends produce one file per trigger per partition; at scale a
        month of 5-minute batches is ~8k tiny files whose open/footer costs
        dominate scans. Rewrites the table into max(1, bytes/target) files
        via a round-robin repartition, staging to a temp dir then swapping
        (parquet can't overwrite a path it is lazily reading). Returns the
        new file count."""
        import os
        import shutil

        path = self.path(name)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-size // target_file_bytes))
        tmp = path + ".compacting"
        self.spark.read.parquet(path).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.rmtree(path)
        os.replace(tmp, path)
        return n_files

    def read_table(self, name: str) -> DataFrame:
        """Read a managed (bucketed) table — bucket metadata lives in the
        session catalog, so use the table name, not the path."""
        return self.spark.table(name)

    def write_csv(self, df: DataFrame, name: str) -> None:
        """S3 CSV sink (reference save_to_csv, load.py:8-20)."""
        df.write.option("header", True).mode("overwrite").csv(self.path(name))

    def read_csv(self, name: str, schema) -> DataFrame:
        """S4 CSV scan with declared schema (no inference pass)."""
        return self.spark.read.schema(schema).option("header", True).csv(self.path(name))

    def write_jsonl(self, df: DataFrame, name: str, compression: str | None = "gzip") -> None:
        """JSON-lines sink — the interchange format of training-data lakes
        (one JSON object per line; splittable when uncompressed, so prefer
        many medium files over few huge .gz at scale). Spark's `json` sink
        IS JSONL."""
        w = df.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.json(self.path(name))

    def read_jsonl(self, df_schema, name: str) -> DataFrame:
        """JSONL scan with a declared schema: no inference pass over the
        data (at 100 TB an inference pass is a full extra scan), malformed
        lines land in `_corrupt_record` instead of failing the job
        (PERMISSIVE default)."""
        return self.spark.read.schema(df_schema).json(self.path(name))

    def write_orc(self, df: DataFrame, name: str) -> None:
        """ORC sink (built into Spark; zlib default) — columnar alternative
        when the downstream reader is Hive/Trino-side."""
        df.write.mode("overwrite").orc(self.path(name))

    def read_orc(self, name: str) -> DataFrame:
        return self.spark.read.orc(self.path(name))
