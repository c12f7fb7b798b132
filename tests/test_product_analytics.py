"""Semantics tests for the product-analytics query shapes (funnel /
retention / OHLC) on crafted micro-frames, where each edge case is
hand-checkable: strict funnel ordering, cohort week offsets, and the
composite open/close tiebreak."""

from __future__ import annotations

import datetime as dt

import pytest

from weatherdatapipeline_spark.queries import (
    ORACLE_FUNNEL,
    ORACLE_OHLC,
    ORACLE_RETENTION,
    QUERIES,
    ohlc_resample_daily,
    retention_weekly_cohorts,
)

TS0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    df = spark.createDataFrame(
        [(eid, ts, uid, et, val, "{}") for eid, ts, uid, et, val in rows],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    out = str(tmp_path / "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_funnel_strict_ordering(spark, tmp_path):
    h = dt.timedelta(hours=1)
    rows = [
        # u1: full ordered funnel view -> click -> purchase
        (1, TS0, 1, "view", 1.0),
        (2, TS0 + h, 1, "click", 1.0),
        (3, TS0 + 2 * h, 1, "purchase", 1.0),
        # u2: purchase BEFORE click -> purchase must NOT count
        (4, TS0, 2, "view", 1.0),
        (5, TS0 + 2 * h, 2, "click", 1.0),
        (6, TS0 + h, 2, "purchase", 1.0),
        # u3: click with no prior view -> not clicked
        (7, TS0, 3, "click", 1.0),
        # u4: view only
        (8, TS0, 4, "view", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["funnel_view_click_purchase"](spark, sf).collect()[0].asDict()
    assert got["n_users"] == 4
    assert got["n_viewed"] == 3
    assert got["n_clicked"] == 2  # u1, u2
    assert got["n_purchased"] == 1  # u1 only: u2's purchase precedes its click
    assert got["purchase_rate"] == 0.5


def test_retention_cohort_offsets(spark, tmp_path):
    wk = dt.timedelta(days=7)
    rows = [
        # u1 first event Mon 2024-01-01 week; active weeks 0 and 2
        (1, TS0, 1, "view", 1.0),
        (2, TS0 + 2 * wk, 1, "click", 1.0),
        (3, TS0 + 2 * wk + dt.timedelta(hours=5), 1, "view", 1.0),  # same cell
        # u2 first event in week of 2024-01-08; active weeks 0 and 1
        (4, TS0 + wk, 2, "view", 1.0),
        (5, TS0 + 2 * wk, 2, "view", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active_users"]
        for r in retention_weekly_cohorts(spark, sf).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_ohlc_open_close_tiebreak(spark, tmp_path):
    s = dt.timedelta(seconds=1)
    rows = [
        # two events share the SAME ts -> event_id breaks the tie for open
        (7, TS0, 1, "click", 30.0),
        (2, TS0, 1, "click", 10.0),  # lower event_id -> open
        (3, TS0 + s, 1, "click", 99.0),  # high
        (4, TS0 + 2 * s, 1, "click", 5.0),  # low + close
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = ohlc_resample_daily(spark, sf).collect()[0].asDict()
    assert got["open"] == 10.0
    assert got["high"] == 99.0
    assert got["low"] == 5.0
    assert got["close"] == 5.0
    assert got["volume"] == 144.0
    assert got["n_events"] == 4


def test_funnel_single_exchange_plan(spark, sf_dir):
    """The three stacked user-windows must reuse ONE hash partitioning:
    exactly one Exchange below the window stack (plus the final 1-row agg
    exchange), never three."""
    plan = QUERIES["funnel_view_click_purchase"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan


@pytest.mark.parametrize(
    "oracle", [ORACLE_FUNNEL, ORACLE_RETENTION, ORACLE_OHLC]
)
def test_oracles_are_ansi_ish(oracle):
    # guard against Spark-only syntax leaking into the DuckDB side
    assert "F." not in oracle
