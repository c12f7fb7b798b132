"""SparkSession factory with scale-oriented defaults.

The reference executes everything eagerly in one pandas process
(SURVEY.md §4.1). Here the execution substrate is Spark; this module owns
the configuration knobs that matter at 100 TB:

- **AQE on** (``spark.sql.adaptive.enabled``): runtime re-planning —
  coalesces small shuffle partitions, converts sort-merge joins to broadcast
  when the built side turns out small, and splits skewed partitions
  (``skewJoin.enabled``). On a 1000-executor cluster this is the main
  defense against skewed keys and mis-estimated sizes.
- **Arrow on**: every pandas interchange (createDataFrame from driver rows,
  Pandas UDFs for the multimodal/dedup paths) is Arrow-batched, never
  row-at-a-time pickling.
- **Shuffle partitions** default to the local core count for tests; on a
  real cluster leave AQE's coalescing to right-size them from the initial
  ``spark.sql.shuffle.partitions`` (set to ~2-3x total cores there).
- **maxPartitionBytes 128m**: scan-side split size so a 100 TB input
  becomes ~800k well-sized tasks rather than a few huge ones.

``run_concurrently`` is the one way this package issues independent
driver calls at the same time (CV fits, the four batch sinks, model
saves): on small inputs each call is mostly scheduling latency, and
concurrent jobs fill the cores one call alone leaves idle.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "weatherdatapipeline-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Local testing runs ``local[N]``; the same conf block is what we would
    ship in ``spark-defaults.conf`` on a cluster (master/deploy handled by
    the submitter there, not here).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interchange: always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- streaming: checkpoint-file checksums off (r14, measured) ---
        # Spark 4.1 writes + verifies a sidecar checksum per checkpoint
        # file (state deltas, offsets, commits); each state-store commit
        # paid ~1.3 s in ChecksumCheckpointFileManager (thread-pool
        # teardown + extra file round-trips) — 128 store instances made a
        # 2-batch availableNow drain of a 100k-row stream take 27 s, 4.8 s
        # with it off (results identical; corruption detection is the
        # storage layer's job on both the local disk here and the
        # HDFS/S3 checkpointing a cluster would use).
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # --- timestamps: keep parquet ns data lossless-but-comparable ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Call every thunk on its own thread and return their results in
    argument order; after all have finished, re-raise the first failure
    in argument order.

    The thunks must be independent: none may read another's output. Each
    runs under ``inheritable_thread_target(spark)``, so the jobs it starts
    carry the caller's job group, local properties and tags (a new JVM
    thread would otherwise start with none). The pool has exactly one
    thread per thunk, and the Spark scheduler shares the cores among
    their jobs."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]
