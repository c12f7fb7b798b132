"""Data-layout operators: Z-order (Morton) clustering and sampled-boundary
range sharding — the two standard physical-layout moves for scan pruning
and balanced total-order export at lake scale.

Reference scope note: the reference pipeline (pandas -> Mongo,
``pipeline.py``/``predict.py``) has no layout tier at all — these exist
for the 100 TB target, where HOW rows are laid out decides how much of
the corpus a filter has to read.

- **Z-order**: interleave the bits of two bucketed dimensions into one
  sort key, so sorting/filing by that ONE key keeps BOTH dimensions
  locally clustered — a range predicate on either dimension then prunes
  most files (Delta/Iceberg ``OPTIMIZE ZORDER BY`` does exactly this).
  Everything here is map-only arithmetic (fixed-width banding from a
  1-row min/max broadcast + static shift/mask expressions, all inside
  whole-stage codegen); the per-file summary is one hash aggregate.

- **Range sharding**: TeraSort's recipe — take a deterministic hash
  sample, sort the (tiny) sample, lift every k-th element as a shard
  boundary, then assign each row by counting boundaries <= key via a
  broadcast join. Sorting N rows globally never happens; only the
  bounded sample is ordered in one task (the same contract as Spark's
  own RangePartitioner, which driver-collects its sample). The balance
  report (rows per shard vs the ideal) is the audit that the sampled
  boundaries actually yield even shards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixed_width_bucket(
    col: Column, vmin: Column, vmax: Column, buckets: int
) -> Column:
    """Bucket ``col`` into ``buckets`` equal-width bands over [vmin, vmax]
    (band = floor((x - vmin) / width), clamped into range). A degenerate
    domain (vmax == vmin) maps everything to band 0 rather than dividing
    by zero (ANSI mode would raise)."""
    width = (vmax - vmin) / F.lit(float(buckets))
    return F.when(width == F.lit(0.0), F.lit(0)).otherwise(
        F.least(
            F.lit(buckets - 1),
            F.greatest(F.lit(0), F.floor((col - vmin) / width).cast("int")),
        )
    )


def morton_interleave(a: Column, b: Column, bits: int) -> Column:
    """Bit-interleave two ``bits``-wide non-negative ints into a Morton
    (Z-order) key: result bit 2i = bit i of ``a``, bit 2i+1 = bit i of
    ``b``. Built as a static OR-chain of shift/mask terms — pure integer
    codegen, no UDF, no shuffle."""
    z = F.lit(0)
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_file_summary(
    df: DataFrame,
    dim_a: Column,
    dim_b: Column,
    id_cols: list[str],
    bits: int = 4,
    rows_per_file_shift: int = 2,
) -> DataFrame:
    """Z-order ``df`` on two bucketed dimensions and summarize the
    resulting "files" (groups of 2^rows_per_file_shift consecutive Z
    values): per file, the row count and the min/max of each dimension
    band. Narrow [min,max] ranges on BOTH dims are the point — they are
    what lets a scan skip files on either predicate.

    ``dim_a``/``dim_b`` must already be int bands in [0, 2^bits).
    """
    z = morton_interleave(dim_a, dim_b, bits)
    zf = F.shiftright(z, rows_per_file_shift)
    return (
        df.select(
            zf.alias("zfile"),
            dim_a.alias("_a"),
            dim_b.alias("_b"),
        )
        .groupBy("zfile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_a").alias("min_a"),
            F.max("_a").alias("max_a"),
            F.min("_b").alias("min_b"),
            F.max("_b").alias("max_b"),
        )
    )


def sampled_range_shards(
    df: DataFrame,
    key: Column,
    n_shards: int = 16,
    sample_mod: int = 8,
    id_col: str = "o_orderkey",
) -> DataFrame:
    """TeraSort-style balanced range sharding audit.

    1. Deterministic sample: rows whose md5(id) bucket hits 1/sample_mod
       (layout-stable, no RNG).
    2. Boundaries: sort the SAMPLE ONLY (bounded: corpus/sample_mod rows
       ordered in one window task — the same driver-sized sample contract
       as Spark's RangePartitioner) and lift the n_shards-1 evenly spaced
       elements.
    3. Assign: broadcast the boundary table and count boundaries <= key —
       a map-side broadcast join + agg, never a global sort of the corpus.

    Returns per-shard: shard id, row count, min/max key — the balance
    report. At 100 TB only step 2's sample is ever ordered; the corpus
    itself is touched by exactly two scans (sample + assign).
    """
    from .sampling import hash_bucket

    keyed = df.select(key.alias("k"), F.col(id_col).alias("_id"))
    sample = keyed.filter(hash_bucket(F.col("_id"), sample_mod) == 0)
    # DRIVER-collect the sorted sample — the literal RangePartitioner
    # contract (its getRangeBounds does exactly this). The orderBy is a
    # DISTRIBUTED range-partitioned sort of the bounded sample (no
    # single-task window anywhere); only corpus/sample_mod keys ever
    # reach the driver.
    samp = sample.orderBy("k", "_id").select("k").collect()
    ns = len(samp)
    step = max(ns // n_shards, 1)
    bound_vals = [
        samp[j * step - 1]["k"]
        for j in range(1, n_shards)
        if j * step <= ns
    ]
    # assignment is a static comparison chain over <= n_shards-1 literals
    # — pure whole-stage codegen, no join, no shuffle before the final agg
    shard = F.lit(0)
    for b in bound_vals:
        shard = shard + (F.col("k") >= F.lit(b)).cast("int")
    return (
        keyed.select("k", shard.cast("bigint").alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )
