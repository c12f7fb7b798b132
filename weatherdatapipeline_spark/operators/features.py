"""Per-city time-series feature engineering — the Spark re-expression of
the reference's ``engineer_features`` (reference ml/features.py:16-79).

Pandas-parity contract (the oracle for this module is pandas itself; see
tests/test_features_pandas_oracle.py):

- unix-seconds → timestamp with coerce-to-null (reference features.py:9-13)
- sort by (city, timestamp) → expressed as window ordering, not a global
  sort (reference features.py:27 — W5)
- ``hour``; ``dayofweek`` with the pandas convention Monday=0 (Spark
  ``weekday``; reference features.py:30-31 — F2/F3)
- per-city lags [1,3] of temperature/humidity/wind_speed/pressure →
  NULL in the first k rows of each city, exactly where pandas yields NaN
  (reference features.py:34-39 — W1)
- rolling mean/std (sample std, ddof=1) over 3 rows with pandas
  ``min_periods=window`` default: first w-1 rows of each city are NULL —
  the count-mask emulation (reference features.py:44-46 — W3/W4)
- regression target ``target_temp_next`` = next-step temperature (lead);
  classification target ``target_condition`` = current weather
  (reference features.py:50-52 — W2)
- one-hot city/country/hour/dayofweek with ``drop_first=True`` semantics:
  category levels discovered sorted, the first level dropped, boolean
  columns named ``{col}_{level}`` (reference features.py:67 — F12)
- training mode drops any row with a NULL in any feature or target;
  inference mode keeps all rows (reference features.py:71-77 — P6)

Unlike the reference, everything is ONE lazy logical plan over a single
DataFrame, built in three projections and a filter: ``with_calendar``
(event time, hour, dayofweek); one projection holding every lag, rolling
stat and target over the one window spec; one selecting keys, features
and targets with every one-hot column; and, in training mode, the any-NULL
filter. Targets are columns, so the positional index alignments (J1/J4)
disappear; row identity is carried by (city, timestamp).

The window and one-hot projections, the filter and ``align_features`` are
each ONE ``selectExpr`` / ``filter`` call on SQL expression text
(``sql_ident`` / ``sql_literal`` quote the names and levels), not a tree
of Python ``Column`` calls: with pyspark's call-site capture each of those
costs several driver→JVM round-trips, ~90 per one-hot column, so the plan
for a few hundred levels took ~25k round-trips and seconds before any job
ran. From text it costs about one round-trip per output column.

Scale: the only shuffle is the hash partition on ``city`` for the windows;
every lag/rolling/one-hot is computed inside that one exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LAGS = [1, 3]
DEFAULT_ROLLING = [3]
ONE_HOT_COLS = ["city", "country", "hour", "dayofweek"]
LAG_BASES = {
    "temp": "temperature",
    "humidity": "humidity",
    "wind": "wind_speed",
    "pressure": "pressure",
}


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted, inner backticks
    doubled. Spark substitutes ``${...}`` in expression text before parsing
    and a quoted identifier has no escape for it, so such a name raises."""
    if "${" in name:
        raise ValueError(f"column name {name!r} holds '${{', which Spark SQL substitutes")
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: int | str) -> str:
    """``value`` as Spark SQL literal text: an int as itself, a string
    single-quoted with backslash escapes. A doubled quote would NOT escape:
    Spark concatenates adjacent literals, so ``'St. John''s'`` reads as
    ``St. Johns``. ``{`` is escaped too, so no ``${...}`` is left for
    Spark's variable substitution."""
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'").replace("{", "\\{")
        return f"'{escaped}'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def all_not_null(cols: list[str]) -> str:
    """SQL text that holds when no column of ``cols`` is NULL."""
    return " AND ".join(f"{sql_ident(c)} IS NOT NULL" for c in cols)


def _event_time(df: DataFrame, ts_col: str) -> Column:
    """Unix seconds → TimestampType, bad values → NULL (F1: the
    ``pd.to_datetime(unit='s', errors='coerce')`` parity via try_cast)."""
    if df.schema[ts_col].dataType.simpleString() == "timestamp":
        return F.col(ts_col)
    return F.timestamp_seconds(F.col(ts_col).try_cast("long"))


def ensure_event_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """``df`` with ``ts_col`` coerced by ``_event_time``."""
    return df.withColumn(ts_col, _event_time(df, ts_col))


def with_calendar(df: DataFrame) -> DataFrame:
    """Event-time coercion, ``hour`` and ``dayofweek`` (pandas Monday=0 →
    Spark ``weekday``; F2/F3) in ONE projection. Over a latest-N
    ``orderBy(...).limit(n)`` a second stacked projection would stop Spark
    from planning the top-K as ``TakeOrderedAndProject``."""
    ts = _event_time(df, "timestamp")
    return df.withColumns({"timestamp": ts, "hour": F.hour(ts), "dayofweek": F.weekday(ts)})


def discover_categories(df: DataFrame, cols: list[str]) -> dict[str, list]:
    """Sorted distinct non-NULL levels per column — what ``pd.get_dummies``
    derives implicitly — in one aggregate job for all columns. At training
    time the result is persisted as model metadata so inference NEVER
    re-derives categories from live data (the reference instead patches
    drift after the fact in ``_align_features``, predict.py:65-88)."""
    row = df.agg(*[F.collect_set(c).alias(c) for c in cols]).first()
    return {c: sorted(row[c]) for c in cols}


def engineer_features(
    df: DataFrame,
    lags: list[int] | None = None,
    rolling_windows: list[int] | None = None,
    inference: bool = False,
    categories: dict[str, list] | None = None,
    tiebreaker_col: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """Returns (DataFrame, feature_column_names).

    The DataFrame carries key columns (city, timestamp), all feature
    columns, and both targets — callers select what they need. The feature
    column list is the persistable schema contract (reference
    training.py:105 saves the same thing as a JSON artifact).
    """
    # None means default; an EMPTY list is a real request for no lags /
    # no rolling features (the adaptive-fallback ladder passes [])
    lags = DEFAULT_LAGS if lags is None else lags
    rolling_windows = DEFAULT_ROLLING if rolling_windows is None else rolling_windows
    rolling_windows = [win for win in rolling_windows if win and win > 1]

    df = with_calendar(df)
    if categories is None:
        categories = discover_categories(df, ONE_HOT_COLS)
    # pandas' stable sort keeps original row order for duplicate (city,
    # timestamp) pairs; distributed ordering has no "original order", so a
    # caller-supplied tiebreaker column makes the window total and the
    # result deterministic (SURVEY.md §7.3 hard part (c)).
    order = ", ".join(sql_ident(c) for c in ["timestamp", tiebreaker_col] if c)

    def over(frame: str = "") -> str:
        return f"OVER (PARTITION BY `city` ORDER BY {order}{frame})"

    # W1: per-city lags
    derived = {
        f"{short}_lag_{lag}": f"lag({sql_ident(base)}, {lag}) {over()}"
        for lag in lags
        for short, base in LAG_BASES.items()
    }
    # W3/W4: rolling with min_periods=w mask (pandas default yields NaN
    # until the window is full; count over the frame supplies the mask)
    for win in rolling_windows:
        frame = over(f" ROWS BETWEEN {win - 1} PRECEDING AND CURRENT ROW")
        for name, agg, base in (
            ("temp_rollmean", "avg", "`temperature`"),
            ("temp_rollstd", "stddev_samp", "`temperature`"),
            ("humidity_rollmean", "avg", "`humidity`"),
        ):
            derived[f"{name}_{win}"] = (
                f"CASE WHEN count({base}) {frame} >= {win} THEN {agg}({base}) {frame} END"
            )
    # W2: targets — lead for next-step temperature, current weather as class
    derived["target_temp_next"] = f"lead(`temperature`, 1) {over()}"
    derived["target_condition"] = "`weather`"
    df = df.selectExpr("*", *[f"{e} AS {sql_ident(c)}" for c, e in derived.items()])

    numeric_features = [
        "temperature",
        "feels_like",
        "humidity",
        "pressure",
        "wind_speed",
        *[f"{s}_lag_{k}" for k in lags for s in LAG_BASES],
        *[
            f"{p}_{win}"
            for win in rolling_windows
            for p in ("temp_rollmean", "temp_rollstd", "humidity_rollmean")
        ],
    ]
    # F12: one-hot, drop_first semantics (sorted-first level dropped) over the
    # fixed category lists, in a projection of its own ABOVE the windows: in
    # theirs, Spark evaluates them below the window on top of with_calendar's
    # projection, and that stack over a latest-N limit stops the top-K plan.
    # The same projection keeps only keys, features and targets: the
    # reference's drop-set and the raw one-hot sources go (pandas
    # get_dummies removes the latter too).
    onehot = {
        f"{c}_{level}": f"{sql_ident(c)} = {sql_literal(level)}"
        for c in ONE_HOT_COLS
        for level in categories.get(c, [])[1:]
    }
    feature_cols = numeric_features + list(onehot)
    targets = ["target_temp_next", "target_condition"]
    present = set(df.columns)
    df = df.selectExpr(
        *[sql_ident(c) for c in ["city", "timestamp", *numeric_features] if c in present],
        *[f"{e} AS {sql_ident(c)}" for c, e in onehot.items()],
        *map(sql_ident, targets),
    )
    # P6: training-mode validity filter (any-NULL feature or NULL target)
    if not inference:
        df = df.filter(all_not_null(feature_cols + targets))
    return df, feature_cols


def align_features(
    df: DataFrame, expected_feature_cols: list[str], onehot_prefixes: tuple[str, ...] = (
        "city_", "country_", "hour_", "dayofweek_",
    )
) -> DataFrame:
    """Schema-alignment contract at inference (reference predict.py:65-88):
    missing one-hot columns materialize as False, missing numerics as 0.0,
    feature order enforced; columns outside the expected list (keys,
    targets) pass through in front. One ``selectExpr`` — no
    data pass, just plan surgery. The fills are typed like ``F.lit(False)``
    and ``F.lit(0.0)``: a bare ``0.0`` would parse as DECIMAL(1,1)."""
    cols = df.columns
    have, want = set(cols), set(expected_feature_cols)

    def fill(c: str) -> str:
        return f"{'false' if c.startswith(onehot_prefixes) else '0.0D'} AS {sql_ident(c)}"

    return df.selectExpr(
        *[sql_ident(c) for c in cols if c not in want],
        *[sql_ident(c) if c in have else fill(c) for c in expected_feature_cols],
    )
