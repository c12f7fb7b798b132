"""Custom per-group operators that genuinely need imperative logic —
the escape hatch tier of the operator hierarchy (SURVEY §2.10 U2:
built-ins first, Arrow-batched applyInPandas only when the semantics
can't be expressed relationally).

EWMA is the canonical example: y_t = α·x_t + (1-α)·y_{t-1} is a
sequential recurrence — no fixed window frame computes it. One
``applyInPandas`` per key keeps the recurrence local to a partition
while every key still processes in parallel.

Scale: groups are hash-partitioned; each group must fit one task's
memory (per-city/per-user series do). Arrow moves columnar batches —
no per-row Python overhead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

_NO_KEY = object()  # cross-batch carry sentinel (never equals a real key)


def _keyed_recurrence(
    df: DataFrame,
    key: str,
    sort_cols: list[str],
    in_cols: list[str],
    out_schema: StructType,
    batch_loop: Callable[[pd.DataFrame, list], list[list]],
    out_keep: list[str],
):
    """Single-shuffle executor for the per-key recurrences (r14, guide
    §2.4/§4): one explicit hash repartition by key + one in-partition
    sort replaces ``groupBy(key).applyInPandas`` — the same shuffle the
    groupBy would do, but (a) the partition count is pinned to the
    cluster parallelism so AQE's small-input coalescing cannot serialize
    the Python stage (measured: 1500-group applyInPandas over the 3 MB
    events shuffle coalesced to ~2 partitions — 5.1 s; this path 0.8 s),
    and (b) one ``mapInPandas`` pass streams whole Arrow batches instead
    of materializing 1500 per-group pandas frames. Recurrence state is
    carried across batch boundaries via ``carry``; a key's rows never
    span partitions (hash partitioning), so results are byte-identical
    to the per-group loop — same float64 op sequence on the same sorted
    series.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.select(*in_cols)
        .repartition(n, key)
        .sortWithinPartitions(key, *sort_cols)
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = [_NO_KEY, None]  # [current key, operator state]
        for pdf in batches:
            if not len(pdf):
                continue
            outs = batch_loop(pdf, carry)
            res = pdf[out_keep].copy()
            for name, vals in zip(
                [f.name for f in out_schema.fields[len(out_keep):]], outs
            ):
                res[name] = vals
            yield res

    return base.mapInPandas(fn, out_schema)


def ewma(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    seq_col: str | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per key, ordered by ts
    (ties broken by ``seq_col`` when given — REQUIRED for a deterministic
    result whenever (key, ts) is not unique).

    The recurrence is an EXPLICIT loop — ``y = (1-α)·y + α·x`` with
    ``(1-α)`` computed once — rather than pandas ``ewm``: pandas'
    adjust=False kernel runs ``((1-α)·y + α·x) / ((1-α)+α)``, whose
    trailing divide can differ from the plain recurrence in the last ulp.
    Owning the op sequence is what lets the SQL oracle (a recursive CTE
    running the IDENTICAL float64 ops — see queries.ORACLE_EWMA) hash
    bitwise-equal instead of staying a rows-only check. Mathematically
    both forms are pandas ewm(adjust=False).

    Executed via the shared single-shuffle recurrence runner
    (``_keyed_recurrence``) since r14 — same sorted series per key, same
    float ops, one pinned-width shuffle instead of a coalescible groupBy.
    """
    out_schema = StructType(
        [
            df.schema[key],
            df.schema[ts_col],
            df.schema[value_col],
            StructField("ewma", DoubleType()),
        ]
    )
    one_minus = 1.0 - alpha
    sort_cols = [ts_col] + ([seq_col] if seq_col else [])
    in_cols = [key, ts_col, value_col] + ([seq_col] if seq_col else [])

    def loop(pdf: pd.DataFrame, carry: list) -> list[list]:
        keys = pdf[key].to_numpy()
        xs = pdf[value_col].astype("float64").to_numpy()
        out = []
        k, y = carry
        for i in range(len(xs)):
            x = float(xs[i])
            if keys[i] != k:
                k, y = keys[i], x
            else:
                y = one_minus * y + alpha * x
            out.append(y)
        carry[0], carry[1] = k, y
        return [out]

    return _keyed_recurrence(
        df, key, sort_cols, in_cols, out_schema, loop, [key, ts_col, value_col]
    )


def capped_running_balance(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    delta_col: str,
    cap: float,
    floor: float = 0.0,
) -> DataFrame:
    """Running balance with clamping at every step:
    ``bal_t = min(max(bal_{t-1} + delta_t, floor), cap)`` per key in
    ``order_cols`` order (inventory / prepaid-credit semantics).

    The clamp makes this a TRUE recurrence — unlike a plain cumulative
    sum, no window frame computes it (each step depends on the clamped
    previous value, not on any prefix aggregate). Same escape-hatch tier
    as EWMA: one Arrow-batched applyInPandas per key, recurrence local
    to the task, all keys in parallel. Unlike EWMA this one IS
    SQL-expressible via a recursive CTE stepping row-by-row, so the
    driver query carries a full DuckDB oracle (the CTE is the spec, not
    the scale path — it iterates max-rows-per-key times).
    """
    out_schema = StructType(
        [
            df.schema[key],
            df.schema[order_cols[-1]],
            StructField("balance", DoubleType()),
        ]
    )

    def loop(pdf: pd.DataFrame, carry: list) -> list[list]:
        keys = pdf[key].to_numpy()
        ds = pdf[delta_col].to_numpy()
        out = []
        k, bal = carry
        for i in range(len(ds)):
            if keys[i] != k:
                k, bal = keys[i], 0.0
            # same op order as the oracle CTE: add, then floor, then cap
            bal = min(max(bal + float(ds[i]), floor), cap)
            out.append(bal)
        carry[0], carry[1] = k, bal
        return [out]

    return _keyed_recurrence(
        df,
        key,
        list(order_cols),
        [key, *order_cols, delta_col],
        out_schema,
        loop,
        [key, order_cols[-1]],
    )


def holt_linear(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    seq_col: str | None = None,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key — TWO
    coupled recurrences (level and trend), which no window frame or
    single recursive column expresses:

        l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}

    seeded l_1 = x_1, b_1 = 0.0. Like ``ewma``, the loop owns its exact
    float64 op sequence ((1-α)/(1-β) computed once; products before
    sums) so the recursive-CTE SQL oracle running the same ops is
    bitwise-equal (queries.ORACLE_HOLT). applyInPandas per key: the
    recurrence stays partition-local, keys process in parallel, each
    key's series must fit one task (the same bounded-series contract as
    every per-key recurrence here)."""
    out_schema = StructType(
        [
            df.schema[key],
            df.schema[ts_col],
            df.schema[value_col],
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta
    sort_cols = [ts_col] + ([seq_col] if seq_col else [])
    in_cols = [key, ts_col, value_col] + ([seq_col] if seq_col else [])

    def loop(pdf: pd.DataFrame, carry: list) -> list[list]:
        keys = pdf[key].to_numpy()
        xs = pdf[value_col].astype("float64").to_numpy()
        levels, trends = [], []
        k = carry[0]
        l, b = carry[1] if carry[1] is not None else (None, None)
        for i in range(len(xs)):
            x = float(xs[i])
            if keys[i] != k:
                k, l, b = keys[i], x, 0.0
            else:
                lp = l
                l = alpha * x + one_minus_a * (lp + b)
                b = beta * (l - lp) + one_minus_b * b
            levels.append(l)
            trends.append(b)
        carry[0], carry[1] = k, (l, b)
        return [levels, trends]

    return _keyed_recurrence(
        df, key, sort_cols, in_cols, out_schema, loop, [key, ts_col, value_col]
    )


def kalman_1d(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    q: float = 1.0,
    r: float = 25.0,
    seq_col: str | None = None,
) -> DataFrame:
    """1-D Kalman filter per key (random-walk state, noisy observation):

        var_pred = var + Q               (predict)
        K        = var_pred / (var_pred + R)
        l        = l + K * (x - l)       (update)
        var      = (1 - K) * var_pred

    seeded l_1 = x_1, var_1 = R. Unlike EWMA/Holt the gain K ADAPTS —
    large after quiet stretches (variance grew), small once the estimate
    settles — which is why sensor-fusion pipelines use it over fixed-α
    smoothing. Same escape-hatch contract as the other recurrences here:
    explicit float64 op order so the recursive-CTE oracle
    (queries.ORACLE_KALMAN) is bitwise-equal; applyInPandas keeps every
    key parallel and the series task-local."""
    out_schema = StructType(
        [
            df.schema[key],
            df.schema[ts_col],
            df.schema[value_col],
            StructField("estimate", DoubleType()),
            StructField("gain", DoubleType()),
        ]
    )
    sort_cols = [ts_col] + ([seq_col] if seq_col else [])
    in_cols = [key, ts_col, value_col] + ([seq_col] if seq_col else [])

    def loop(pdf: pd.DataFrame, carry: list) -> list[list]:
        keys = pdf[key].to_numpy()
        xs = pdf[value_col].astype("float64").to_numpy()
        est, gains = [], []
        ck = carry[0]
        l, var, k = carry[1] if carry[1] is not None else (None, None, None)
        for i in range(len(xs)):
            x = float(xs[i])
            if keys[i] != ck:
                ck = keys[i]
                l, var, k = x, r, 0.0
            else:
                var_pred = var + q
                k = var_pred / (var_pred + r)
                l = l + k * (x - l)
                var = (1.0 - k) * var_pred
            est.append(l)
            gains.append(k)
        carry[0], carry[1] = ck, (l, var, k)
        return [est, gains]

    return _keyed_recurrence(
        df, key, sort_cols, in_cols, out_schema, loop, [key, ts_col, value_col]
    )


def holt_winters_additive(
    df: DataFrame,
    key: str,
    order_col: str,
    value_col: str,
    m: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per key —
    THREE coupled recurrences (level, trend, and an m-slot seasonal
    ring), the fully stateful end of the smoothing family (EWMA → Holt
    → Holt-Winters):

        l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}

    seeded l_1 = x_1, b_1 = 0 and s_i = 0 for i ≤ 0 (zero seasonal
    burn-in — a deterministic convention both engines replicate, so the
    first season is a warm-up rather than a fitted init). The loop owns
    its exact float64 op sequence; the recursive-CTE oracle
    (queries.ORACLE_HOLT_WINTERS) carries the m-slot seasonal state as
    a DOUBLE[] column and runs the identical ops, so raw doubles hash
    equal with NO rounding. applyInPandas per key: the recurrence is
    partition-local; each key's series (here: days, not events) must
    fit one task."""
    out_schema = StructType(
        [
            df.schema[key],
            df.schema[order_col],
            df.schema[value_col],
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("seasonal", DoubleType()),
        ]
    )
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta
    one_minus_g = 1.0 - gamma

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([order_col])
        xs = pdf[value_col].astype("float64").to_numpy()
        levels, trends, seasonals = [], [], []
        l = b = None
        ring = [0.0] * m
        for x in xs:
            x = float(x)
            if l is None:
                l, b, s = x, 0.0, 0.0
            else:
                s_old = ring[0]
                lp = l
                l = alpha * (x - s_old) + one_minus_a * (lp + b)
                b = beta * (l - lp) + one_minus_b * b
                s = gamma * (x - l) + one_minus_g * s_old
            ring = ring[1:] + [s]
            levels.append(l)
            trends.append(b)
            seasonals.append(s)
        pdf = pdf.assign(level=levels, trend=trends, seasonal=seasonals)
        return pdf[[key, order_col, value_col, "level", "trend", "seasonal"]]

    return df.select(key, order_col, value_col).groupBy(key).applyInPandas(fn, out_schema)
