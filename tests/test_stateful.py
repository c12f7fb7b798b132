from __future__ import annotations

from weatherdatapipeline_spark.operators.stateful import ewma


def test_ewma_recurrence_exact(spark):
    # hand-computed: alpha=0.5, adjust=False → y = [10, 15, 17.5, 8.75+...]
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 20.0), ("b", 1, 4.0)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {(r["k"], r["t"]): r["ewma"] for r in ewma(df, "k", "t", "v", alpha=0.5).collect()}
    assert got[("a", 1)] == 10.0
    assert got[("a", 2)] == 15.0  # 0.5*20 + 0.5*10
    assert got[("a", 3)] == 17.5  # 0.5*20 + 0.5*15
    assert got[("b", 1)] == 4.0  # independent key state


def test_kalman_1d_gain_adapts_and_matches_hand_values(spark):
    """Adaptive gain is the point: with constant Q/R the gain must fall
    monotonically from its post-seed high toward the steady state, and
    the first update must match the hand-computed filter exactly."""
    from weatherdatapipeline_spark.operators.stateful import kalman_1d

    rows = [("k", i, 10.0) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "k STRING, t INT, v DOUBLE")
    out = sorted(
        kalman_1d(df, "k", "t", "v", q=1.0, r=25.0).collect(),
        key=lambda r: r["t"],
    )
    gains = [r["gain"] for r in out]
    assert gains[0] == 0.0  # seed step
    # hand-computed step 2: var_pred = 26, K = 26/51
    assert gains[1] == 26.0 / 51.0
    # constant observations: estimate stays exactly at the value
    assert all(r["estimate"] == 10.0 for r in out)
    # gain decreases monotonically toward steady state, stays in (0, 1)
    for a, b in zip(gains[1:], gains[2:]):
        assert 0.0 < b < a < 1.0
