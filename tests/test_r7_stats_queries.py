"""Planted-property tests for the round-7 statistical queries: each
builds a miniature events table where the statistic has a known
closed-form answer, and runs the REGISTERED query against it."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _write_events(spark, path, rows):
    """rows: (event_id, iso_ts, user_id, value)."""
    df = spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(ts), u, float(v), "click", "{}")
            for i, ts, u, v in rows
        ],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_diff_in_diff_recovers_planted_effect(spark, tmp_path):
    """Control rises 10->20 (trend +10); treated rises 10->35: the +15
    extra IS the planted effect, and DiD must return exactly 15."""
    from weatherdatapipeline_spark.queries import diff_in_diff_value

    rows = []
    eid = 0
    for u, (pre, post) in [(2, (10, 35)), (4, (10, 35)),  # treated (even)
                           (1, (10, 20)), (3, (10, 20))]:  # control (odd)
        for v, ts in [(pre, "2024-01-01T00:00:00"), (post, "2024-01-09T00:00:00")]:
            rows.append((eid, ts, u, v))
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = diff_in_diff_value(spark, str(tmp_path)).collect()[0]
    assert got["did_estimate"] == 15.0
    assert got["treat_pre"] == 10.0 and got["control_post"] == 20.0


def test_jackknife_se_zero_for_homogeneous_users(spark, tmp_path):
    """Every user contributes the same per-event value, so every
    leave-one-out replicate equals the point estimate: SE must be 0."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = [
        (i, f"2024-01-0{1 + i % 5}T00:00:00", i % 4, 7.0) for i in range(20)
    ]
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["jackknife_ratio_metric"](spark, str(tmp_path)).collect()[0]
    assert got["ratio_estimate"] == 7.0
    assert got["jackknife_se"] == 0.0
    assert got["n_users"] == 4


def test_calendar_effects_pure_dow_signal(spark, tmp_path):
    """Value depends ONLY on day-of-week: R^2(dow) must be 1 (and adding
    hour cannot reduce it below ~1)."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    eid = 0
    for day in range(1, 15):  # two full weeks
        for hour in (3, 15):
            d = dt.date(2024, 1, day)
            rows.append(
                (eid, f"2024-01-{day:02d}T{hour:02d}:00:00", eid % 5, 10.0 * d.isoweekday())
            )
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["calendar_effects_decomposition"](spark, str(tmp_path)).collect()[0]
    assert got["r2_dow"] == pytest.approx(1.0, abs=1e-6)
    assert got["r2_dow_hour"] == pytest.approx(1.0, abs=1e-6)


def test_bandit_eliminates_dominated_arm(spark, tmp_path):
    """An arm with conversion 0 over many samples must be eliminated by
    an arm with conversion 1; the winner must survive."""
    from weatherdatapipeline_spark.queries import bandit_arm_elimination

    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i % 20), i % 7,
             100.0 if i % 2 == 0 else 1.0,
             "win" if i % 2 == 0 else "lose", "{}")
            for i in range(400)
        ],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["event_type"]: r for r in bandit_arm_elimination(spark, str(tmp_path)).collect()}
    assert got["lose"]["eliminated"] is True
    assert got["win"]["eliminated"] is False
    assert got["win"]["conv_rate"] == 1.0 and got["lose"]["conv_rate"] == 0.0


def test_conformal_coverage_on_uniform_residuals(spark, tmp_path):
    """Alternating +-step walk gives constant absolute residuals: the 90%
    quantile equals that step and coverage is exactly 1 on the test
    half (every residual <= q)."""
    from weatherdatapipeline_spark.queries import conformal_interval_coverage

    rows = []
    for i in range(200):
        v = 50.0 + (5.0 if i % 2 == 0 else -5.0)
        rows.append((i, f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00", 1, v))
    _write_events(spark, str(tmp_path), rows)
    got = conformal_interval_coverage(spark, str(tmp_path)).collect()[0]
    assert got["q90_residual"] == 10.0
    assert got["coverage"] == 1.0


def test_eb_shrinkage_pulls_low_n_users_harder(spark, tmp_path):
    """A 2-event outlier user must shrink toward the grand mean more
    than a 40-event user with the SAME raw mean (both 80, grand ~50)."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    eid = 0
    # 8 background users at mean ~50 with internal noise
    for u in range(8):
        for j in range(20):
            rows.append((eid, f"2024-01-0{1 + j % 5}T00:00:00", u, 50.0 + (j % 3 - 1)))
            eid += 1
    # high-n high-mean user and low-n high-mean user, same raw mean 80
    for j in range(40):  # 80/81/79/80 cycle: raw mean exactly 80
        rows.append((eid, f"2024-01-0{1 + j % 5}T01:00:00", 100, [80.0, 81.0, 79.0, 80.0][j % 4]))
        eid += 1
    for j in range(2):  # values 79, 81: raw mean exactly 80, like user 100
        rows.append((eid, f"2024-01-0{1 + j}T02:00:00", 101, 79.0 + 2.0 * j))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r["user_id"]: r for r in QUERIES["eb_shrunk_user_means"](spark, str(tmp_path)).collect()}
    assert got[100]["shrink_weight"] > got[101]["shrink_weight"]
    # both shrink DOWN toward the grand mean, low-n user further down
    assert got[100]["eb_mean"] > got[101]["eb_mean"]
    assert got[101]["eb_mean"] < got[101]["raw_mean"]
