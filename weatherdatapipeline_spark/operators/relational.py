"""Relational operators: joins (incl. as-of), top-k, latest-per-key, bands.

The reference never performs a relational join — its "joins" are pandas
positional index alignments (reference ``main.py:132``,
``predict.py:145-149``; SURVEY.md §2.3). This module provides the explicit,
distributed equivalents plus the join shapes the engine must support beyond
the reference (broadcast/equi, semi/anti, as-of).

Scale notes
-----------
- Small dimensions are broadcast (AQE picks a BroadcastHashJoin for the
  region/nation-sized side) so a 100 TB fact scan never shuffles on the
  dim key.
- ``latest_per_key`` uses ``max_by`` (a single hash aggregate with map-side
  partial aggregation) rather than ``row_number()`` + filter (a full sort
  within every partition of the window). At 100 TB the agg form shuffles
  pre-combined partial state; the window form shuffles every row.
- ``asof_join`` is the union + "last non-null over ordered window" trick:
  one shuffle on the partition key, no range-explosion. The alternative
  (range join + rank) explodes to |left| x |right-per-key| intermediate rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k (reference O1: sort + tail, ``main.py:130``).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: each task
    keeps a k-element heap, the driver merges — no global sort at any scale.
    Callers must include a unique tiebreaker column for determinism.
    """
    return df.orderBy(*order_by).limit(k)


def latest_per_key(df: DataFrame, key: str | list[str], ts_col: str) -> DataFrame:
    """Latest full row per key (reference ST3 `current_weather` snapshot,
    ``load.py:52-61``).

    Implemented as ``max_by(struct(*cols), ts)`` — one hash aggregate with
    map-side combine. Ties on ``ts_col`` are broken deterministically by the
    greatest full-row struct value.
    """
    keys = [key] if isinstance(key, str) else list(key)
    payload = F.max_by(
        F.struct(*[F.col(c) for c in df.columns]),
        F.struct(F.col(ts_col), *[F.col(c) for c in df.columns if c not in keys]),
    ).alias("_row")
    return df.groupBy(*keys).agg(payload).select("_row.*")


def ranked_in_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-n rows per group via ``row_number`` (needed to replace the
    reference's positional concat J1 and for time-ordered CV splits)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    suffix: str = "_matched",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key.

    Natural for sensor streams (match an observation to the most recent
    calibration/forecast). Implemented as union + last-ignore-nulls over an
    ordered window: one shuffle on ``on``, linear state, no pair explosion.

    Right rows sort before left rows at equal timestamps (side=0 < side=1),
    so an exactly-simultaneous right row IS matched (<= semantics, same as
    DuckDB ASOF JOIN).
    """
    lcols = left.columns
    l = left.select(
        F.lit(1).alias("_side"),
        F.col(left_ts).alias("_ts"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    r = right.select(
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_ts"),
        # the join key survives on both sides; every other left column is null
        *[
            (F.col(on) if c == on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r)
    matched = unioned.select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
    return matched.filter(F.col("_side") == 1).select(
        *lcols, *[f"{c}{suffix}" for c in right_cols]
    )


def banded_histogram(
    df: DataFrame, col: str, bands: list[tuple[str, float | None, float | None]]
) -> list[Column]:
    """One-pass conditional-count aggregates for value bands (reference A8
    temperature_distribution, ``load.py:105-112`` — 6 eager passes there,
    one shuffle here).

    ``bands`` entries are (name, lo, hi) half-open ``[lo, hi)``; None = open.
    Returns aggregate Columns to splat into a single ``agg(...)``.
    """
    out = []
    for name, lo, hi in bands:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) < F.lit(hi))
        out.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
    return out


def scd2_history(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a slowly-changing-dimension Type 2 history from an event/
    change log: consecutive runs of the same ``state_col`` value per key
    (ordered by ``ts_col``, ties broken by ``tiebreak_col``) collapse into
    one validity interval. Returns
    (key, state, valid_from_s, valid_to_s, is_current, n_events) where
    ``valid_to_s`` is the next run's start (NULL on the open/current run)
    — the half-open [from, to) convention a point-in-time dimension lookup
    joins against.

    Plan shape: one key-partitioned ordered window for the change flag, a
    running sum over the same window for the run id (Spark reuses the
    single sort/exchange for both), one (key, run) aggregate, then a
    second window keyed the same way for the lead(valid_from). Every
    shuffle keys on ``key_col`` — at 100 TB the event table shuffles once
    and the run table (orders of magnitude smaller) twice.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(state_col).over(w)
    runs = (
        df.withColumn(
            "_chg",
            F.when(
                prev.isNull() | (prev != F.col(state_col)), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("_run", F.sum("_chg").over(w))
        .groupBy(key_col, "_run")
        .agg(
            F.min(state_col).alias("state"),
            F.min(F.unix_timestamp(ts_col)).alias("valid_from_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy(key_col).orderBy("_run")
    return runs.select(
        key_col,
        "state",
        "valid_from_s",
        F.lead("valid_from_s").over(w2).alias("valid_to_s"),
        F.lead("valid_from_s").over(w2).isNull().alias("is_current"),
        "n_events",
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    band_width: float,
) -> DataFrame:
    """Two-dimensional skyline (Pareto frontier, minimize both): rows not
    dominated by any other row (dominator <= on both coordinates, < on at
    least one). Borzsony/Kossmann's SKYLINE OF operator, computed as a
    monotone staircase instead of the quadratic NOT EXISTS self-join.

    A row survives iff its y equals the minimum y at its exact x AND every
    strictly-smaller x has a larger running y-minimum. The strict-prefix
    cummin is computed TWO-LEVEL so no global sort ever happens: (1) one
    (x)-group aggregate to a distinct-x table, (2) a band-partitioned
    ordered window for the within-band strict prefix, (3) a bands-count-
    sized window for the cross-band prefix (bounded rows — the only
    "global" ordering runs over #bands, not data). Equal (x, y) ties all
    survive (neither dominates). Returns the input rows on the frontier.
    """
    g = df.groupBy(F.col(x_col).alias("_x")).agg(F.min(y_col).alias("_ymin"))
    g = g.withColumn("_band", F.floor(F.col("_x") / band_width))
    w_in = (
        Window.partitionBy("_band")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn("_inprev", F.min("_ymin").over(w_in))
    bands = g.groupBy("_band").agg(F.min("_ymin").alias("_bmin"))
    # cross-band strict prefix min via a #bands^2 self-join (bands are a
    # bounded handful) — no unpartitioned window, no single-task sort
    prev = bands.select(
        F.col("_band").alias("_pb"), F.col("_bmin").alias("_pv")
    )
    bands = (
        bands.join(prev, F.col("_pb") < F.col("_band"), "left")
        .groupBy("_band")
        .agg(F.min("_pv").alias("_pbmin"))
    )
    stair = g.join(bands, "_band").withColumn(
        "_prevmin",
        F.least(
            F.coalesce("_inprev", "_pbmin"), F.coalesce("_pbmin", "_inprev")
        ),
    )
    frontier_x = stair.filter(
        F.col("_prevmin").isNull() | (F.col("_ymin") < F.col("_prevmin"))
    ).select("_x", "_ymin")
    return df.join(
        frontier_x,
        (F.col(x_col) == F.col("_x")) & (F.col(y_col) == F.col("_ymin")),
    ).drop("_x", "_ymin")
