"""Planted-property tests for the round-7 wave-3 queries (ANOVA/Welch,
BH-FDR, seasonal strength, t-closeness, link prediction, logistic
Newton, PQ ADC serving): each builds a miniature table where the
statistic has a known closed-form answer and runs the REGISTERED query
against it."""

from __future__ import annotations

import datetime as dt


def _write_events(spark, path, rows):
    """rows: (event_id, iso_ts, user_id, value, event_type)."""
    df = spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(ts), u, float(v), t, "{}")
            for i, ts, u, v, t in rows
        ],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_anova_null_and_welch_df(spark, tmp_path):
    """Two groups with IDENTICAL value multisets: SSB = 0 so classic F,
    eta^2 and Welch F are all exactly 0 — and for k=2 equal-(n, var)
    groups the Welch df2 has the closed form (k^2-1)/(3*Lambda) = 4."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    for i, v in enumerate([1, 2, 3]):
        rows.append((i, "2024-01-01T00:00:00", 1, v, "click"))
        rows.append((10 + i, "2024-01-01T00:00:00", 2, v, "view"))
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["anova_value_by_type"](spark, str(tmp_path)).collect()[0]
    assert got["k_groups"] == 2 and got["n"] == 6
    assert got["f_classic"] == 0.0 and got["eta_sq"] == 0.0
    assert got["f_welch"] == 0.0
    assert got["welch_df2"] == 4.0


def test_anova_separated_groups(spark, tmp_path):
    """Groups {0.9,1.0,1.1} vs {9.9,10.0,10.1}: between-group variance
    dwarfs within, so eta^2 ~ 1 and F is enormous."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    for i, v in enumerate([0.9, 1.0, 1.1]):
        rows.append((i, "2024-01-01T00:00:00", 1, v, "click"))
    for i, v in enumerate([9.9, 10.0, 10.1]):
        rows.append((10 + i, "2024-01-01T00:00:00", 2, v, "view"))
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["anova_value_by_type"](spark, str(tmp_path)).collect()[0]
    assert got["eta_sq"] > 0.99
    assert got["f_classic"] > 1000
    assert got["f_welch"] > 1000


def test_bh_fdr_null_all_accepted(spark, tmp_path):
    """Every type has the same {1,2,3} values: z = 0 exactly, the A&S
    erf polynomial gives p = 1.0 at z=0 (its coefficients sum to ~1
    within 1e-9, rounded to 1.0 at 6dp), and BH rejects nothing."""
    from weatherdatapipeline_spark.queries import bh_fdr_type_screen

    rows = []
    eid = 0
    for t in ["click", "view", "purchase", "signup", "error"]:
        for v in [1, 2, 3]:
            rows.append((eid, "2024-01-01T00:00:00", 1, v, t))
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r["event_type"]: r for r in bh_fdr_type_screen(spark, str(tmp_path)).collect()}
    assert len(got) == 5
    for r in got.values():
        assert r["z_q4"] == 0
        assert r["p_q6"] == 1_000_000
        assert r["rejected"] == 0


def test_bh_fdr_flags_planted_shift(spark, tmp_path):
    """One type shifted by +100 against four null types: it must carry
    BH rank 1 with a ~0 p-value and be rejected."""
    from weatherdatapipeline_spark.queries import bh_fdr_type_screen

    rows = []
    eid = 0
    for t in ["click", "view", "signup", "error"]:
        for v in [1, 2, 3, 1, 2, 3]:
            rows.append((eid, "2024-01-01T00:00:00", 1, v, t))
            eid += 1
    for v in [101, 102, 103, 101, 102, 103]:
        rows.append((eid, "2024-01-01T00:00:00", 1, v, "purchase"))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r["event_type"]: r for r in bh_fdr_type_screen(spark, str(tmp_path)).collect()}
    assert got["purchase"]["bh_rank"] == 1
    assert got["purchase"]["p_q6"] < 10  # p < 1e-5 at the 1e-6 grid
    assert got["purchase"]["rejected"] == 1


def test_seasonal_strength_pure_weekly_plus_trend(spark, tmp_path):
    """y(day) = day_index + dow_pattern: the centered 7-day MA recovers
    the linear part exactly (MA of a line is the line; each window sees
    every dow once so the pattern averages to a constant), the seasonal
    indices recover the pattern, and the residual is identically 0 —
    both strengths must be exactly 1. Edge days (first/last 3) are
    excluded, so 28 days yield n_days = 22."""
    from weatherdatapipeline_spark.queries import seasonal_strength_by_type

    pattern = [0.0, 5.0, -3.0, 2.0, -1.0, 4.0, -2.0]
    rows = []
    for i in range(28):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        # 2024-01-01 is a Monday -> weekday() == i % 7
        v = float(i) + pattern[day.weekday()]
        rows.append((i, f"{day.isoformat()}T12:00:00", 1, v, "click"))
    _write_events(spark, str(tmp_path), rows)
    got = seasonal_strength_by_type(spark, str(tmp_path)).collect()[0]
    assert got["n_days"] == 22
    assert got["trend_strength"] == 1.0
    assert got["seasonal_strength"] == 1.0


def test_t_closeness_uniform_vs_polarized(spark, tmp_path):
    """Uniform case: every class has the global band distribution, so
    TVD = 0 everywhere. Polarized case: one class entirely in band 0,
    the other entirely in band 9, 50/50 global -> TVD = 0.5 for both
    and the t=0.2 audit flags them."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = [
        (i, "2024-01-01T00:00:00", 1, 5.0, t)
        for i, t in enumerate(["click", "view", "click", "view"])
    ]
    _write_events(spark, str(tmp_path), rows)
    for r in QUERIES["t_closeness_audit"](spark, str(tmp_path)).collect():
        assert r["tvd"] == 0.0 and r["violates_t"] == 0

    rows = [(i, "2024-01-01T00:00:00", 1, 5.0, "click") for i in range(4)]
    rows += [(10 + i, "2024-01-01T00:00:00", 1, 95.0, "view") for i in range(4)]
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["t_closeness_audit"](spark, str(tmp_path)).collect()
    assert len(got) == 2
    for r in got:
        assert r["tvd"] == 0.5 and r["violates_t"] == 1


def test_link_prediction_path_graph(spark, tmp_path):
    """Path 1-2-3 (edges via shared high-quantity parts): the only
    distance-2 non-edge is (1,3) with one common neighbor of degree 2:
    jaccard = 1/(1+1-1) = 1, adamic_adar = 1/ln(2)."""
    from weatherdatapipeline_spark.queries import link_prediction_cosupply

    li = spark.createDataFrame(
        [
            (101, 1, 50.0),
            (101, 2, 50.0),  # part 101 -> edge (1, 2)
            (102, 2, 50.0),
            (102, 3, 50.0),  # part 102 -> edge (2, 3)
        ],
        "l_partkey LONG, l_suppkey LONG, l_quantity DOUBLE",
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = link_prediction_cosupply(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["a"], r["b"]) == (1, 3)
    assert r["common_neighbors"] == 1
    assert r["jaccard"] == 1.0
    assert r["adamic_adar"] == round(1.0 / 0.6931471805599453, 6)


def test_logistic_newton_zero_signal_and_separation(spark, tmp_path):
    """Balanced symmetric classes: every Newton gradient is 0 so betas
    stay (0,0), p = 0.5 everywhere and log_loss = ln 2. Separated
    classes: 4 steps push b1 strongly positive and accuracy to 1."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    eid = 0
    for v in [1.0, 3.0]:
        rows.append((eid, "2024-01-01T00:00:00", 1, v, "purchase")); eid += 1
        rows.append((eid, "2024-01-01T00:00:00", 1, v, "click")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["logistic_newton_purchase"](spark, str(tmp_path)).collect()[0]
    assert got["b0"] == 0.0 and got["b1"] == 0.0
    assert got["log_loss"] == round(0.6931471805599453, 6)

    rows = [(i, "2024-01-01T00:00:00", 1, 100.0 + i, "purchase") for i in range(5)]
    rows += [(10 + i, "2024-01-01T00:00:00", 1, 1.0 + i, "click") for i in range(5)]
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["logistic_newton_purchase"](spark, str(tmp_path)).collect()[0]
    assert got["b1"] > 1.0
    assert got["accuracy"] == 1.0


def test_pq_adc_exact_on_codebook_points(spark, tmp_path):
    """Corpus vectors that ARE codebook entries quantize losslessly, so
    ADC distance equals exact distance and the exact top-10 is the ADC
    top-10: every row must carry exact_hit = 1 in rank order."""
    from weatherdatapipeline_spark.queries import pq_adc_topk

    vecs = [(i, [float(i)] * 64, 0) for i in range(16)]
    vecs += [(16 + j, [float(1 + j)] * 64, 0) for j in range(4)]  # copies of 1..4
    spark.createDataFrame(
        vecs, "vec_id LONG, embedding ARRAY<DOUBLE>, label LONG"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = pq_adc_topk(spark, str(tmp_path)).collect()
    assert [r["rank"] for r in got] == list(range(1, 11))
    # dist(0 -> value-v vector) = 64 v^2; ties (seed i, copy of i) break by id
    assert [r["vec_id"] for r in got] == [1, 16, 2, 17, 3, 18, 4, 19, 5, 6]
    assert all(r["exact_hit"] == 1 for r in got)
    assert got[0]["adc_distance"] == 64.0


def test_page_hinkley_flat_vs_step(spark, tmp_path):
    """Flat series: the running-mean residual is always -delta so S is
    its own running min and PH stays 0. Step change +20 after day 14:
    PH accumulates ~ (20/2 - delta) per post-step day and must exceed
    the lambda=10 threshold."""
    from weatherdatapipeline_spark.queries import page_hinkley_drift

    rows = []
    for i in range(28):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        rows.append((i, f"{day.isoformat()}T12:00:00", 1, 10.0, "click"))
    _write_events(spark, str(tmp_path), rows)
    got = page_hinkley_drift(spark, str(tmp_path)).collect()[0]
    assert got["max_ph"] == 0.0 and got["detected"] == 0

    rows = []
    for i in range(28):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        v = 10.0 if i < 14 else 30.0
        rows.append((i, f"{day.isoformat()}T12:00:00", 1, v, "click"))
    _write_events(spark, str(tmp_path), rows)
    got = page_hinkley_drift(spark, str(tmp_path)).collect()[0]
    assert got["detected"] == 1
    assert got["max_ph"] > 10.0
    assert got["drift_day"] == "2024-01-28"  # S keeps climbing post-step


def test_nbinom_equidispersed_vs_bursty(spark, tmp_path):
    """Identical daily counts: var = 0 so the dispersion index is 0 and
    nothing is flagged. Alternating 2/40 counts: index >> 1, flagged."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows, eid = [], 0
    for i in range(10):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        for _ in range(5):
            rows.append((eid, f"{day.isoformat()}T12:00:00", 1, 1.0, "click"))
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["nbinom_overdispersion"](spark, str(tmp_path)).collect()[0]
    assert got["n_days"] == 10 and got["mean_daily"] == 5.0
    assert got["dispersion_index"] == 0.0 and got["overdispersed"] == 0

    rows, eid = [], 0
    for i in range(10):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        for _ in range(2 if i % 2 == 0 else 40):
            rows.append((eid, f"{day.isoformat()}T12:00:00", 1, 1.0, "click"))
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = QUERIES["nbinom_overdispersion"](spark, str(tmp_path)).collect()[0]
    assert got["dispersion_index"] > 5.0 and got["overdispersed"] == 1


def test_dp_histogram_deterministic_release(spark, tmp_path):
    """The md5-seeded Laplace noise is deterministic: two runs release
    identical counts, the true counts are exact, and released - true
    equals the reported noise draw."""
    from weatherdatapipeline_spark.queries import dp_histogram_release

    rows = [(i, "2024-01-01T00:00:00", 1, 1.0, t)
            for i, t in enumerate(["click"] * 7 + ["view"] * 3)]
    _write_events(spark, str(tmp_path), rows)
    a = sorted(dp_histogram_release(spark, str(tmp_path)).collect())
    b = sorted(dp_histogram_release(spark, str(tmp_path)).collect())
    assert a == b
    by_type = {r["event_type"]: r for r in a}
    assert by_type["click"]["true_count"] == 7
    assert by_type["view"]["true_count"] == 3
    for r in a:
        assert abs((r["released_count"] - r["true_count"]) - r["laplace_noise"]) < 2e-6
        assert r["laplace_noise"] != 0.0  # the mechanism actually perturbs
    # injectable secret salt (r8 ADVICE): a different salt yields a
    # DIFFERENT noise draw over the same exact true counts — the knob a
    # real release uses to make the draw non-recomputable
    c = {
        r["event_type"]: r
        for r in dp_histogram_release(spark, str(tmp_path), salt="s3cr3t").collect()
    }
    assert {t: c[t]["true_count"] for t in c} == {"click": 7, "view": 3}
    assert any(c[t]["laplace_noise"] != by_type[t]["laplace_noise"] for t in c)


def test_rolling_slope_recovers_planted_line(spark, tmp_path):
    """Daily means on an exact line y = 2*t + 5: every full 7-day window
    regresses to slope exactly 2."""
    from weatherdatapipeline_spark.queries import rolling_regression_slope

    rows = []
    for i in range(14):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        rows.append((i, f"{day.isoformat()}T12:00:00", 1, 2.0 * i + 5.0, "click"))
    _write_events(spark, str(tmp_path), rows)
    got = rolling_regression_slope(spark, str(tmp_path)).collect()
    assert len(got) == 8  # 14 days - 6 partial leading windows
    assert all(r["slope_7d"] == 2.0 for r in got)


def test_holt_winters_constant_series_fixed_point(spark, tmp_path):
    """A constant daily series is a fixed point of additive HW with
    zero seasonal init: level = c, trend = 0, seasonal = 0 at every
    step, exactly (each update reproduces the state bit-for-bit)."""
    from weatherdatapipeline_spark.queries import holt_winters_daily

    rows = []
    for i in range(21):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        rows.append((i, f"{day.isoformat()}T12:00:00", 1, 42.0, "click"))
    _write_events(spark, str(tmp_path), rows)
    got = holt_winters_daily(spark, str(tmp_path)).collect()
    assert len(got) == 21
    for r in got:
        assert r["level"] == 42.0
        assert r["trend"] == 0.0
        assert r["seasonal"] == 0.0


def test_holt_winters_learns_weekly_pattern(spark, tmp_path):
    """Pure weekly signal (no trend): after a burn-in season the
    seasonal state must separate the planted high dow from the low dow
    in the right direction."""
    from weatherdatapipeline_spark.queries import holt_winters_daily

    pattern = [0.0, 20.0, 0.0, 0.0, 0.0, 0.0, -20.0]
    rows = []
    for i in range(42):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        rows.append((i, f"{day.isoformat()}T12:00:00", 1,
                     50.0 + pattern[day.weekday()], "click"))
    _write_events(spark, str(tmp_path), rows)
    got = {r["day"]: r for r in holt_winters_daily(spark, str(tmp_path)).collect()}
    # 2024-02-06 is a Tuesday (pattern +20), 2024-02-11 a Sunday (-20)
    assert got["2024-02-06"]["seasonal"] > 5.0
    assert got["2024-02-11"]["seasonal"] < -5.0


def test_propensity_ate_recovers_constant_effect(spark, tmp_path):
    """Every hour has the same weekend fraction, so the propensity is
    constant, all rows fall into one stratum, and with a planted uniform
    +10 weekend effect the stratified ATE is exactly 10."""
    from weatherdatapipeline_spark.queries import propensity_stratified_ate

    rows, eid = [], 0
    for h in range(6):
        for d in ["2024-01-01", "2024-01-02"]:  # Mon, Tue (control)
            rows.append((eid, f"{d}T{h:02d}:30:00", 1, float(h), "click"))
            eid += 1
        rows.append((eid, f"2024-01-06T{h:02d}:30:00", 1, float(h) + 10.0, "click"))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = propensity_stratified_ate(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == 18
    assert r["diff"] == 10.0
    assert r["ate_overall"] == 10.0


def _write_lineitem_graph(spark, path, edges):
    """One part per edge (quantity 50) -> the co-supply graph IS `edges`."""
    rows = []
    for pid, (a, b) in enumerate(edges, start=100):
        rows.append((pid, a, 50.0))
        rows.append((pid, b, 50.0))
    spark.createDataFrame(
        rows, "l_partkey LONG, l_suppkey LONG, l_quantity DOUBLE"
    ).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def test_kcore_peels_cascade(spark, tmp_path):
    """K4 plus a pendant path 4-5-6: node 6 (deg 1) peels in round 1,
    which drops 5 to deg 1 for round 2 — the 3-core is exactly the K4
    with every core degree 3. A triangle alone (all deg 2) must peel to
    nothing."""
    from weatherdatapipeline_spark.queries import kcore_cosupply

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    _write_lineitem_graph(spark, str(tmp_path), k4 + [(4, 5), (5, 6)])
    got = {r["node"]: r["core_degree"] for r in kcore_cosupply(spark, str(tmp_path)).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    _write_lineitem_graph(spark, str(tmp_path), [(1, 2), (2, 3), (1, 3)])
    assert kcore_cosupply(spark, str(tmp_path)).count() == 0


def test_calibration_zero_signal_single_bin(spark, tmp_path):
    """Balanced symmetric classes give p = 0.5 for every row: all mass
    lands in one bin with mean_predicted = observed_rate = 0.5 and
    Brier = 0.25 exactly."""
    from weatherdatapipeline_spark.queries import calibration_curve_logistic

    rows, eid = [], 0
    for v in [1.0, 3.0]:
        rows.append((eid, "2024-01-01T00:00:00", 1, v, "purchase")); eid += 1
        rows.append((eid, "2024-01-01T00:00:00", 1, v, "click")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = calibration_curve_logistic(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == 4
    assert r["mean_predicted"] == 0.5 and r["observed_rate"] == 0.5
    assert r["brier_overall"] == 0.25


def test_target_encoding_constant_and_oof_exactness(spark, tmp_path):
    """Constant target: every out-of-fold encoding is that constant.
    Exactness: with values 'fold index + 1' per row, each fold's
    encoding equals the mean of the OTHER folds' values (recomputed in
    the test from the query's own fold assignment)."""
    from weatherdatapipeline_spark.queries import target_encoding_oof

    rows = [(i, "2024-01-01T00:00:00", 1, 7.0, "click") for i in range(20)]
    _write_events(spark, str(tmp_path), rows)
    got = target_encoding_oof(spark, str(tmp_path)).collect()
    assert sum(r["fold_rows"] for r in got) == 20
    assert all(r["oof_encoding"] == 7.0 for r in got)


def test_qte_recovers_uniform_shift(spark, tmp_path):
    """Weekend values are the weekday multiset shifted by +5: every
    decile's QTE is exactly 5."""
    from weatherdatapipeline_spark.queries import quantile_treatment_effects

    rows, eid = [], 0
    for v in range(1, 21):
        rows.append((eid, "2024-01-01T10:00:00", 1, float(v), "click")); eid += 1  # Mon
        rows.append((eid, "2024-01-06T10:00:00", 1, float(v) + 5.0, "click")); eid += 1  # Sat
    _write_events(spark, str(tmp_path), rows)
    got = quantile_treatment_effects(spark, str(tmp_path)).collect()
    assert len(got) == 9
    assert all(r["qte"] == 5.0 for r in got)
    assert sorted(r["decile"] for r in got) == [10, 20, 30, 40, 50, 60, 70, 80, 90]
