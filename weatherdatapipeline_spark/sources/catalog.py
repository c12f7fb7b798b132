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

    def write_jsonl(self, df: DataFrame, name: str, compression: str | None = "gzip") -> None:
        """JSON-lines sink — the interchange format of training-data lakes
        (one JSON object per line; splittable when uncompressed, so prefer
        many medium files over few huge .gz at scale). Spark's `json` sink
        IS JSONL."""
        w = df.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.json(self.path(name))
