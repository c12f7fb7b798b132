"""Planted-case tests for the round-9 wave: KMV sketches (distinct +
mergeability), bottom-k quantile sampling, Cohen's kappa, source capping.
Each query also carries a full DuckDB oracle (strict-checked in
validate.sh step 2); these tests pin the SEMANTICS on constructed inputs
where the right answer is known in closed form."""

from __future__ import annotations

import datetime as dt

import pytest


def _write_events(spark, path, rows):
    """rows: (event_id, user_id, value, event_type)."""
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, 0, 0), u, float(v), t, "{}")
            for i, u, v, t in rows
        ],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_documents(spark, path, rows):
    """rows: (doc_id, text, source)."""
    df = spark.createDataFrame(
        [(i, t, "en", src, len(t)) for i, t, src in rows],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_kmv_small_groups_are_exact(spark, tmp_path):
    """Types with fewer than k=64 distinct users: the sketch holds the
    whole set, so est == exact and the quantized error is 0."""
    from weatherdatapipeline_spark.queries import kmv_distinct_users

    rows = [(i, 1000 + (i % 10), 1.0, "click") for i in range(50)]
    rows += [(100 + i, 2000 + (i % 30), 1.0, "view") for i in range(90)]
    _write_events(spark, str(tmp_path), rows)
    got = {r["event_type"]: r for r in kmv_distinct_users(spark, str(tmp_path)).collect()}
    assert got["click"]["exact_distinct"] == 10
    assert got["click"]["est_distinct"] == 10
    assert got["click"]["rel_err_q4"] == 0
    assert got["view"]["exact_distinct"] == 30
    assert got["view"]["est_distinct"] == 30


def test_kmv_estimates_large_group_within_bound(spark, tmp_path):
    """2000 distinct users >> k=64: the estimate must land within the
    ~4-sigma KMV band (sigma ≈ D/sqrt(k-2) ≈ 254 here)."""
    from weatherdatapipeline_spark.queries import kmv_distinct_users

    rows = [(i, i, 1.0, "click") for i in range(2000)]
    _write_events(spark, str(tmp_path), rows)
    [r] = kmv_distinct_users(spark, str(tmp_path)).collect()
    assert r["exact_distinct"] == 2000
    assert abs(r["est_distinct"] - 2000) < 1020  # 4 sigma


def test_kmv_merge_identity_holds(spark, tmp_path):
    """bottom-k(A ∪ B) == bottom-k(sketch(A) ∪ sketch(B)) on overlapping
    type populations — every pair must report sketches_equal=1 and
    identical estimates from both arms."""
    from weatherdatapipeline_spark.queries import kmv_union_merge_audit

    rows = [(i, i % 300, 1.0, "click") for i in range(300)]
    rows += [(1000 + i, 150 + (i % 300), 1.0, "view") for i in range(300)]
    rows += [(5000 + i, i % 40, 1.0, "error") for i in range(40)]
    _write_events(spark, str(tmp_path), rows)
    got = kmv_union_merge_audit(spark, str(tmp_path)).collect()
    assert len(got) == 3  # 3 unordered pairs of 3 types
    for r in got:
        assert r["sketches_equal"] == 1, (r["type_a"], r["type_b"])
        assert r["est_direct"] == r["est_merged"]


def test_bottomk_quantile_exact_when_sample_covers(spark, tmp_path):
    """n <= k=128 rows per type: the 'sample' is the population, so the
    p50 estimate equals the exact p50 and the reported error is 0."""
    from weatherdatapipeline_spark.queries import bottomk_quantile_sketch

    rows = [(i, i, v, "click") for i, v in enumerate(range(1, 102))]  # 1..101
    _write_events(spark, str(tmp_path), rows)
    [r] = bottomk_quantile_sketch(spark, str(tmp_path)).collect()
    assert r["n_sample"] == 101
    assert r["est_p50_q4"] == 51 * 10_000
    assert r["exact_p50_q4"] == 51 * 10_000
    assert r["p50_abs_err_q4"] == 0
    assert r["est_p25_q4"] == 26 * 10_000 and r["est_p75_q4"] == 76 * 10_000


def test_cohens_kappa_perfect_and_inverse(spark, tmp_path):
    """Kappa closed forms: raters that always agree → kappa = 1; raters
    that always disagree on a balanced table → kappa = -1."""
    from weatherdatapipeline_spark.queries import cohens_kappa_quality_raters

    rich = "alpha beta gamma delta epsilon zeta eta theta"  # ttr = 1
    long_rich = " ".join(f"word{i:03d}" for i in range(60))  # 479 chars, ttr = 1
    poor = "spam " * 80  # ttr ~ 1/80
    # perfect agreement: long docs are rich, short docs are poor
    docs = [(i, long_rich, "s") for i in range(5)]
    docs += [(10 + i, poor[:200], "s") for i in range(5)]
    _write_documents(spark, str(tmp_path), docs)
    [r] = cohens_kappa_quality_raters(spark, str(tmp_path)).collect()
    assert (r["n11"], r["n00"], r["n10"], r["n01"]) == (5, 5, 0, 0)
    assert r["po_q6"] == 1_000_000 and r["kappa_q6"] == 1_000_000
    # perfect disagreement: long docs are poor, short docs are rich
    docs = [(i, (poor * 3)[:400], "s") for i in range(5)]
    docs += [(10 + i, rich[:47], "s") for i in range(5)]
    _write_documents(spark, str(tmp_path), docs)
    [r] = cohens_kappa_quality_raters(spark, str(tmp_path)).collect()
    assert (r["n11"], r["n00"]) == (0, 0)
    assert r["kappa_q6"] == -1_000_000


def test_source_cap_audit_counts_and_checksums(spark, tmp_path):
    """A 25-doc source keeps exactly 20 and drops 5; an under-cap source
    keeps everything; kept+dropped checksums partition the id sum."""
    from weatherdatapipeline_spark.queries import source_cap_audit

    docs = [(i, f"text {i}", "big") for i in range(25)]
    docs += [(100 + i, f"text {i}", "small") for i in range(7)]
    _write_documents(spark, str(tmp_path), docs)
    got = {r["source"]: r for r in source_cap_audit(spark, str(tmp_path)).collect()}
    big, small = got["big"], got["small"]
    assert (big["n_total"], big["n_kept"], big["n_dropped"]) == (25, 20, 5)
    assert big["kept_checksum"] + big["dropped_checksum"] == sum(range(25))
    assert (small["n_total"], small["n_kept"], small["n_dropped"]) == (7, 7, 0)
    assert small["dropped_checksum"] == 0
    # determinism: the same parquet yields the same kept subset
    again = {r["source"]: r for r in source_cap_audit(spark, str(tmp_path)).collect()}
    assert again["big"]["kept_checksum"] == big["kept_checksum"]


def test_kmv_intersection_exact_when_under_k(spark, tmp_path):
    """Populations small enough that the union sketch holds everything:
    the ratio estimator degenerates to the exact intersection."""
    from weatherdatapipeline_spark.queries import kmv_intersection_estimate

    # click users 0..29, view users 20..49 → intersection 20..29 = 10
    rows = [(i, i, 1.0, "click") for i in range(30)]
    rows += [(1000 + i, 20 + i, 1.0, "view") for i in range(30)]
    _write_events(spark, str(tmp_path), rows)
    [r] = kmv_intersection_estimate(spark, str(tmp_path)).collect()
    assert (r["type_a"], r["type_b"]) == ("click", "view")
    assert r["exact_intersection"] == 10
    assert r["est_intersection"] == 10  # union |A∪B|=50 < k=64: sketch exact
    assert r["rel_err_q4"] == 0


def test_kmv_intersection_disjoint_is_zero(spark, tmp_path):
    """Disjoint populations: n_both = 0 in the union sketch, estimate 0."""
    from weatherdatapipeline_spark.queries import kmv_intersection_estimate

    rows = [(i, i, 1.0, "click") for i in range(200)]
    rows += [(1000 + i, 10_000 + i, 1.0, "view") for i in range(200)]
    _write_events(spark, str(tmp_path), rows)
    [r] = kmv_intersection_estimate(spark, str(tmp_path)).collect()
    assert r["n_both"] == 0
    assert r["est_intersection"] == 0 and r["exact_intersection"] == 0


def test_embedding_centroid_drift_closed_form(spark, tmp_path):
    """Two labels placed symmetrically at ±1 on dim 0 (zeros elsewhere):
    global centroid is the origin, so each label's drift distance is
    exactly 1.0 → dist_q6 = 1_000_000; a third label AT the global
    centroid of a balanced design drifts by construction-specific
    amounts pinned here."""
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(4)]
        + [(10 + i, [-1.0, 0.0, 0.0, 0.0], 1) for i in range(4)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    from weatherdatapipeline_spark.queries import embedding_centroid_drift

    got = {r["label"]: r for r in embedding_centroid_drift(spark, str(tmp_path)).collect()}
    assert got[0]["n_vectors"] == 4 and got[1]["n_vectors"] == 4
    assert got[0]["dist_q6"] == 1_000_000
    assert got[1]["dist_q6"] == 1_000_000


def test_sql_udf_inlines_and_bands(spark, tmp_path):
    """The SQL UDF must band correctly AND inline into the JVM plan —
    no Python evaluation node anywhere (that's the whole point of a SQL
    UDF over a @udf with the same body)."""
    from weatherdatapipeline_spark.queries import sql_udf_value_bands

    rows = [(0, 1, 5.0, "a"), (1, 1, 50.0, "a"), (2, 1, 500.0, "a"),
            (3, 1, 9.99, "a"), (4, 1, 10.0, "a")]
    _write_events(spark, str(tmp_path), rows)
    df = sql_udf_value_bands(spark, str(tmp_path))
    got = {r["band"]: (r["n"], r["sum_q2"]) for r in df.collect()}
    assert got["small"] == (2, 1499)  # 5.0 + 9.99 → 14.99 → 1499
    assert got["mid"] == (2, 6000)    # 50 + 10
    assert got["large"] == (1, 50000)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Python" not in plan  # inlined SQL, not a UDF call boundary


def test_simpsons_paradox_flags_planted_reversal(spark, tmp_path):
    """Pooled effect positive, one stratum negative: only that stratum is
    flagged. Construction: 'big' is weekend-heavy with high values
    (drives the pooled sign positive); 'flip' has weekend < weekday."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import QUERIES

    sat, mon = _dt.datetime(2024, 1, 6), _dt.datetime(2024, 1, 8)
    rows = []
    eid = 0
    for v, day in [(100.0, sat)] * 20 + [(1.0, mon)] * 5:
        rows.append((eid, day, 1, v, "big")); eid += 1
    for v, day in [(1.0, sat)] * 10 + [(5.0, mon)] * 10:
        rows.append((eid, day, 1, v, "flip")); eid += 1
    df = spark.createDataFrame(
        [(i, ts, u, float(v), t, "{}") for i, ts, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["event_type"]: r for r in QUERIES["simpsons_paradox_screen"](spark, str(tmp_path)).collect()}
    assert got["big"]["pooled_q4"] > 0  # pooled: weekends look great
    assert got["big"]["sign_reversed"] == 0
    assert got["flip"]["effect_q4"] == -4 * 10_000  # 1 - 5
    assert got["flip"]["sign_reversed"] == 1


def test_neyman_allocation_closed_form_and_budget(spark, tmp_path):
    """Two strata, equal sizes, sigma 2:1 → allocation 2:1 (667/333 after
    largest-remainder); allocations always sum exactly to the budget;
    a zero-variance stratum gets zero."""
    from weatherdatapipeline_spark.queries import neyman_allocation_by_type

    rows = []
    eid = 0
    for v in ([10.0, 30.0] * 50):  # sigma = 10, n = 100
        rows.append((eid, 1, v, "wide")); eid += 1
    for v in ([10.0, 20.0] * 50):  # sigma = 5, n = 100
        rows.append((eid, 1, v, "narrow")); eid += 1
    for _ in range(100):  # sigma = 0: no budget needed
        rows.append((eid, 1, 7.0, "constant")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r["event_type"]: r["alloc"] for r in
           neyman_allocation_by_type(spark, str(tmp_path)).collect()}
    assert got["constant"] == 0
    assert got["wide"] + got["narrow"] + got["constant"] == 1000
    assert got["wide"] == 667 and got["narrow"] == 333


def test_bpe_fertility_closed_form(spark, tmp_path):
    """Corpus of one repeated word: BPE fully merges it, so fertility is
    exactly 1 token/word; a source of never-merged singleton chars pays
    chars+1 tokens per word."""
    from weatherdatapipeline_spark.queries import bpe_fertility_by_source

    # 'hot' dominates → its merges are learned fully: h+o, ho+t, hot+</w>
    docs = [(i, "hot " * 50, "hotsrc") for i in range(6)]
    # one rare 20-distinct-char word: fully merging it needs 20 merges,
    # but only 13 remain after 'hot' consumes 3 — it CANNOT reach 1 token
    docs += [(100, "abcdefghijklmnopqrst", "raresrc")]
    df = spark.createDataFrame(
        [(i, t.strip(), "en", s, len(t.strip())) for i, t, s in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r["source"]: r for r in bpe_fertility_by_source(spark, str(tmp_path)).collect()}
    hot = got["hotsrc"]
    assert hot["n_words"] == 300
    assert hot["n_tokens"] == 300  # fully merged single token per word
    assert hot["tokens_per_word_q4"] == 10_000
    # 'hot'+</w> = 4 chars-equivalents → tokens/char = 1/4
    assert hot["tokens_per_char_q4"] == 2500
    rare = got["raresrc"]
    assert rare["n_words"] == 1
    assert rare["tokens_per_word_q4"] > 10_000  # strictly worse fertility


def test_iv_wald_perfect_compliance_closed_form(spark, tmp_path):
    """Perfect compliance: every encouraged (z=1) user purchases with
    y=20, every control user doesn't with y=10 → ITT = 10, first stage
    = 1, β_IV = ITT/1 = 10 exactly."""
    import hashlib

    from weatherdatapipeline_spark.queries import iv_wald_estimate

    def z(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    rows, eid = [], 0
    for uid in range(200):
        if z(uid):
            rows.append((eid, uid, 20.0, "purchase")); eid += 1
        else:
            rows.append((eid, uid, 10.0, "click")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    [r] = iv_wald_estimate(spark, str(tmp_path)).collect()
    assert r["n_encouraged"] + r["n_control"] == 200
    assert r["itt_q4"] == 10 * 10_000
    assert r["first_stage_q4"] == 10_000
    assert r["beta_iv_q4"] == 10 * 10_000


def test_iv_wald_null_instrument_reports_no_power(spark, tmp_path):
    """Nobody purchases regardless of z: the first stage is 0 and β_IV
    is NULL (reported, never a division blow-up)."""
    from weatherdatapipeline_spark.queries import iv_wald_estimate

    rows = [(i, i, 5.0, "click") for i in range(100)]
    _write_events(spark, str(tmp_path), rows)
    [r] = iv_wald_estimate(spark, str(tmp_path)).collect()
    assert r["first_stage_q4"] == 0
    assert r["beta_iv_q4"] is None


def test_ipf_raking_hits_uniform_margins(spark, tmp_path):
    """After 6 IPF rounds on a deliberately skewed 2x2 table, both raked
    margins must match the uniform targets (total/2 each) to within the
    quantization grid, while cells stay positive and keep the table's
    interaction structure."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import ipf_raking_type_dow

    mon, tue = _dt.datetime(2024, 1, 1), _dt.datetime(2024, 1, 2)
    rows, eid = [], 0
    for day, t, k in [(mon, "a", 70), (mon, "b", 10), (tue, "a", 10), (tue, "b", 10)]:
        for _ in range(k):
            rows.append((eid, day, 1, 1.0, t)); eid += 1
    df = spark.createDataFrame(
        [(i, ts, u, v, t, "{}") for i, ts, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    cells = ipf_raking_type_dow(spark, str(tmp_path)).collect()
    assert len(cells) == 4 and all(r["weight_q6"] > 0 for r in cells)
    total = 100 * 1_000_000
    row_m, col_m = {}, {}
    for r in cells:
        row_m[r["i"]] = row_m.get(r["i"], 0) + r["weight_q6"]
        col_m[r["j"]] = col_m.get(r["j"], 0) + r["weight_q6"]
    # the LAST half-step fits the column axis, so those margins are exact
    # up to the 1e-6 quantization; the row axis carries the geometric IPF
    # residual (this 7:1-skewed table leaves ~0.003 after 6 rounds)
    for m in col_m.values():
        assert abs(m - total / 2) <= 10
    for m in row_m.values():
        assert abs(m - total / 2) < 5000


def test_mase_backtest_closed_forms(spark, tmp_path):
    """A perfect weekly pattern: the seasonal-naive lag-7 is EXACT
    (mae_seas=0 days excluded? no — both defined ⇒ mase denominator 0).
    Use instead: linear ramp y=day → persistence err = 1 every day,
    seasonal err = 7 every day ⇒ MASE = 1/7 exactly."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import QUERIES

    rows, eid = [], 0
    for d in range(21):
        day = _dt.datetime(2024, 1, 1) + _dt.timedelta(days=d)
        rows.append((eid, day, 1, float(d), "ramp")); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, t, "{}") for i, ts_, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    [r] = QUERIES["forecast_mase_backtest"](spark, str(tmp_path)).collect()
    assert r["n_days"] == 14  # days 8..21 have both lags
    assert r["mae_pers_q4"] == 10_000       # |y - lag1| = 1
    assert r["mae_seas_q4"] == 7 * 10_000   # |y - lag7| = 7
    assert r["mase_q4"] == round(1 / 7 * 1e4)  # 1429


def test_group_sequential_obf_planted_effect(spark, tmp_path):
    """A massive planted conversion gap crosses the OBF boundary by the
    final look; boundaries decrease monotonically (strict early, loose
    late) and end at the fixed-horizon critical value C at look K."""
    import datetime as _dt
    import hashlib

    from weatherdatapipeline_spark.queries import (
        _GST_OBF_C,
        group_sequential_obrien_fleming,
    )

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    rows, eid = [], 0
    for d in range(10):  # spread over time so looks are non-degenerate
        day = _dt.datetime(2024, 1, 1) + _dt.timedelta(days=d)
        for uid in range(60):
            t = "purchase" if (arm(uid) == 1 and uid % 2 == 0) else "click"
            rows.append((eid, day, uid, 1.0, t)); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, t, "{}") for i, ts_, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    looks = sorted(
        group_sequential_obrien_fleming(spark, str(tmp_path)).collect(),
        key=lambda r: r["look"],
    )
    assert [r["look"] for r in looks] == [1, 2, 3, 4, 5]
    bounds = [r["boundary_q4"] for r in looks]
    assert bounds == sorted(bounds, reverse=True)  # strict early, loose late
    assert bounds[-1] == round(_GST_OBF_C * 1e4)  # final look = C exactly
    assert looks[-1]["crossed"] == 1  # ~50% vs 0% conversion: crossed
    # sample accumulates monotonically across looks in both arms
    for a, b in zip(looks, looks[1:]):
        assert b["n_treat"] >= a["n_treat"] and b["n_control"] >= a["n_control"]


def test_scd2_pit_join_planted_intervals(spark, tmp_path):
    """Purchases must look up the browsing state valid AT their instant:
    user browses 'view' then 'click'; a purchase during each phase
    resolves to that phase, and the view-phase lookup comes from a
    since-closed interval."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import scd2_point_in_time_join

    t = lambda m: _dt.datetime(2024, 1, 1, 10, m)
    rows = [
        (0, t(0), 1, 1.0, "view"),
        (1, t(10), 1, 1.0, "view"),
        (2, t(5), 1, 1.0, "purchase"),   # during the view phase
        (3, t(20), 1, 1.0, "click"),
        (4, t(25), 1, 1.0, "purchase"),  # during the (current) click phase
    ]
    df = spark.createDataFrame(
        [(i, ts_, u, v, ty, "{}") for i, ts_, u, v, ty in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["state_at_purchase"]: r
           for r in scd2_point_in_time_join(spark, str(tmp_path)).collect()}
    assert got["view"]["n_purchases"] == 1
    assert got["view"]["from_closed_intervals"] == 1  # view ended at t(20)
    assert got["view"]["event_checksum"] == 2
    assert got["click"]["n_purchases"] == 1
    assert got["click"]["from_closed_intervals"] == 0  # click is current
    assert got["click"]["event_checksum"] == 4


def test_merkle_bucket_diff_localizes_missing_rows(spark, tmp_path):
    """Every bucket's missing_rows must equal the number of gated-out ids
    hashing to it, differing + equal buckets must partition the 256, and
    total missing_rows must equal the planted drop count."""
    import hashlib

    from weatherdatapipeline_spark.queries import _MERKLE_BUCKETS, merkle_bucket_diff

    n = 3000
    rows = [(i, 1, 1.0, "click") for i in range(n)]
    _write_events(spark, str(tmp_path), rows)

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    dropped = [i for i in range(n) if h32(f"{i}|b") % 100 < 2]
    per_bucket = {}
    for i in dropped:
        per_bucket[h32(str(i)) % _MERKLE_BUCKETS] = (
            per_bucket.get(h32(str(i)) % _MERKLE_BUCKETS, 0) + 1
        )
    got = merkle_bucket_diff(spark, str(tmp_path)).collect()
    assert {r["bucket"]: r["missing_rows"] for r in got} == per_bucket
    assert sum(r["missing_rows"] for r in got) == len(dropped)
    assert all(r["n_equal_total"] == _MERKLE_BUCKETS - len(per_bucket) for r in got)


def test_sprt_crossing_and_stickiness(spark, tmp_path):
    """A treatment arm converting at ~50% >> p1=0.15 must cross the
    upper Wald bound; once crossed, 'stopped' stays 1 on every later
    day even if the statistic wanders; decisions and LLR match a
    direct replay of the cumulative formula."""
    import datetime as _dt
    import hashlib
    import math

    from weatherdatapipeline_spark.queries import (
        _SPRT_A,
        _SPRT_L1,
        _SPRT_L2,
        sprt_daily_readout,
    )

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    treat = [u for u in range(200) if arm(u) == 1][:40]
    rows, eid = [], 0
    for d in range(6):
        day = _dt.datetime(2024, 2, 1) + _dt.timedelta(days=d)
        for i, uid in enumerate(treat):
            t = "purchase" if i % 2 == 0 else "click"
            rows.append((eid, day, uid, 1.0, t)); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, t, "{}") for i, ts_, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = sorted(sprt_daily_readout(spark, str(tmp_path)).collect(),
                 key=lambda r: r["day"])
    assert len(got) == 6
    # replay: each day adds 40 obs, 20 conversions
    for d, r in enumerate(got, start=1):
        n, c = 40 * d, 20 * d
        assert (r["n"], r["c"]) == (n, c)
        want_llr = round((c * _SPRT_L1 + (n - c) * _SPRT_L2) * 1e6)
        assert r["llr_q6"] == want_llr
    # 50% conversion >> p1: day 1 already crosses the upper bound
    assert got[0]["llr_q6"] >= round(_SPRT_A * 1e6)
    assert got[0]["decision"] == 1
    assert all(r["stopped"] == 1 for r in got)  # sticky after crossing


def test_referential_integrity_flags_planted_orphans(spark, tmp_path):
    """Planted orphans (two lineitems referencing a missing order, one
    with a NULL orderkey) must be counted — NULL FK counts as an orphan
    — while intact relations report zero."""
    from pyspark.sql import functions as F

    from weatherdatapipeline_spark.queries import referential_integrity_audit

    spark.createDataFrame([(1,), (2,)], "o_orderkey LONG").withColumn(
        "o_custkey", F.lit(10)
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame([(10,)], "c_custkey LONG").withColumn(
        "c_nationkey", F.lit(0)
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame([(0, 0)], "n_nationkey LONG, n_regionkey LONG").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame([(0,)], "r_regionkey LONG").write.mode("overwrite").parquet(
        f"{tmp_path}/region.parquet"
    )
    spark.createDataFrame([(0, 0)], "s_suppkey LONG, s_nationkey LONG").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame([(7,)], "p_partkey LONG").write.mode("overwrite").parquet(
        f"{tmp_path}/part.parquet"
    )
    li = spark.createDataFrame(
        [(1, 7), (2, 7), (99, 7), (99, 7), (None, 7)],
        "l_orderkey LONG, l_partkey LONG",
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    got = {r["relation"]: r
           for r in referential_integrity_audit(spark, str(tmp_path)).collect()}
    lo = got["lineitem.l_orderkey->orders"]
    assert lo["n_child"] == 5
    assert lo["n_orphans"] == 3  # two 99s + one NULL
    assert lo["n_orphan_keys"] == 1  # distinct non-null orphan key: 99
    assert lo["intact"] == 0
    assert got["lineitem.l_partkey->part"]["intact"] == 1
    assert got["orders.o_custkey->customer"]["intact"] == 1


def test_yuen_trimmed_test_ignores_planted_outliers(spark, tmp_path):
    """Identical bulk distributions plus extreme weekend-only outliers:
    the untrimmed mean difference would be huge, but the [P20, P80]
    trim removes the outliers entirely → trimmed diff exactly 0."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import yuen_trimmed_weekend_test

    sat, mon = _dt.datetime(2024, 1, 6), _dt.datetime(2024, 1, 8)
    rows, eid = [], 0
    bulk = [float(v) for v in range(1, 26)]  # 1..25 identical both groups
    for day in (sat, mon):
        for v in bulk:
            rows.append((eid, day, 1, v, "click")); eid += 1
    for _ in range(3):  # weekend-only extreme outliers, trimmed away
        rows.append((eid, sat, 1, 1e6, "click")); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, t, "{}") for i, ts_, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    [r] = yuen_trimmed_weekend_test(spark, str(tmp_path)).collect()
    # untrimmed weekend mean is inflated by ~3e6/28 ≈ +107_000; the
    # trimmed diff must collapse that by >4 orders of magnitude (the
    # residual ~1.5 comes from the outliers shifting the weekend's own
    # P20/P80 thresholds — inherent to any 20% trim, rank or threshold)
    untrimmed_diff = (sum(bulk) + 3e6) / 28 - sum(bulk) / 25
    assert untrimmed_diff > 100_000
    assert abs(r["trimmed_diff_q6"]) <= 2_000_000  # |trimmed diff| <= 2.0
    assert r["n_weekday_trimmed"] > 0 and r["n_weekend_trimmed"] > 0


def test_ridge_importance_planted_feature_signal(spark, tmp_path):
    """y depends ONLY on hour: dropping hour must cost a large MSE delta,
    dropping day essentially none; the full model's MSE must be near 0
    (ridge shrinkage keeps it marginally positive)."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import ridge_drop_column_importance

    rows, eid = [], 0
    for d in range(14):
        for h in range(24):
            t = _dt.datetime(2024, 3, 1 + d, h, 30)
            rows.append((eid, t, 1, 5.0 * h + 3.0, "click")); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, ty, "{}") for i, ts_, u, v, ty in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["model"]: r for r in ridge_drop_column_importance(spark, str(tmp_path)).collect()}
    assert got["full"]["delta_vs_full_q6"] == 0
    assert got["full"]["mse_q6"] < 100_000  # near-perfect linear fit
    # hour carries all the signal: var(5h) over h=0..23 ≈ 1197
    assert got["drop_hour"]["delta_vs_full_q6"] > 1_000 * 1_000_000
    assert got["drop_day"]["delta_vs_full_q6"] < 10_000  # day adds nothing


def test_covariate_balance_flags_planted_imbalance(spark, tmp_path):
    """Plant a value imbalance correlated with the hash arm: the value
    covariate must blow past |SMD| = 0.1 while hour stays balanced (all
    rows share one timestamp → SMD 0 by construction... NaN-safe? no —
    zero variance makes SMD undefined; use two hours evenly)."""
    import datetime as _dt
    import hashlib

    from weatherdatapipeline_spark.queries import covariate_balance_smd

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    rows, eid = [], 0
    for uid in range(200):
        for h in (9, 15):  # both arms see both hours equally → balanced
            t = _dt.datetime(2024, 4, 1, h)
            v = 100.0 if arm(uid) else 10.0  # value tracks the arm → broken
            rows.append((eid, t, uid, v, "click")); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, ty, "{}") for i, ts_, u, v, ty in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["covariate"]: r for r in covariate_balance_smd(spark, str(tmp_path)).collect()}
    assert got["hour"]["smd_q4"] == 0 and got["hour"]["balanced"] == 1
    # per-arm value variance is ZERO (degenerate): SMD undefined → NULL,
    # but the differing means still flag the broken assignment
    assert got["value"]["smd_q4"] is None
    assert got["value"]["balanced"] == 0
    assert got["value"]["mean_treat_q4"] == 100 * 10_000
    assert got["value"]["mean_control_q4"] == 10 * 10_000


def test_eb_beta_binomial_shrinks_small_sources(spark, tmp_path):
    """A 4-doc source with 2 dups (raw 50%) must shrink hard toward the
    corpus prior; a 400-doc source at the same raw rate barely moves;
    shrinkage never crosses the prior mean side."""
    from weatherdatapipeline_spark.queries import QUERIES

    docs = []
    # big source: 400 docs, 10% dups (each dup = one repeated text)
    for i in range(360):
        docs.append((i, f"unique big text {i}", "big"))
    for i in range(20):  # 20 pairs of identical texts = 40 dup docs
        docs.append((1000 + 2 * i, f"dup text {i}", "big"))
        docs.append((1001 + 2 * i, f"dup text {i}", "big"))
    # small source: 4 docs, 2 of them one dup pair (raw rate 0.5)
    docs += [(2000, "small a", "small"), (2001, "small b", "small"),
             (2002, "small dup", "small"), (2003, "small dup", "small")]
    # several mid sources to give the prior a real spread
    for s in range(8):
        for i in range(50):
            docs.append((3000 + 100 * s + i, f"mid {s} text {i}", f"mid{s}"))
    _write_documents(spark, str(tmp_path), docs)
    got = {r["source"]: r for r in QUERIES["eb_beta_binomial_dup_rates"](spark, str(tmp_path)).collect()}
    assert got["small"]["prior_ok"] == 1
    assert got["small"]["raw_rate_q6"] == 500_000
    # real shrinkage: the 4-doc source moves meaningfully toward the low
    # prior (the mid-source spread keeps the prior deliberately weak, so
    # this is ~0.38 from 0.50, not a collapse)
    assert got["small"]["shrunk_rate_q6"] < 420_000
    # the 400-doc source's 10% barely moves
    big = got["big"]
    assert big["raw_rate_q6"] == 100_000
    assert abs(big["shrunk_rate_q6"] - 100_000) < 15_000
    # shrinkage is toward the prior, never past the raw rate's far side
    assert got["small"]["shrunk_rate_q6"] > 0


def test_journey_trigrams_planted_path(spark, tmp_path):
    """Three users walking view→click→purchase plus one walking a
    different path: the dominant trigram wins with the right support."""
    import datetime as _dt

    from weatherdatapipeline_spark.queries import QUERIES

    rows, eid = [], 0
    for uid in (1, 2, 3):
        for i, t in enumerate(["view", "click", "purchase"]):
            rows.append((eid, _dt.datetime(2024, 1, 1, 10, i), uid, 1.0, t)); eid += 1
    for i, t in enumerate(["error", "error", "signup"]):
        rows.append((eid, _dt.datetime(2024, 1, 1, 10, i), 9, 1.0, t)); eid += 1
    df = spark.createDataFrame(
        [(i, ts_, u, v, t, "{}") for i, ts_, u, v, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["journey_trigrams_top20"](spark, str(tmp_path)).collect()
    top = got[0]
    assert (top["a"], top["b"], top["c"]) == ("view", "click", "purchase")
    assert top["n_paths"] == 3 and top["n_users"] == 3
    assert len(got) == 2  # only two distinct trigrams exist


def test_importance_ess_uniform_vs_degenerate(spark, tmp_path):
    """Uniform weights (all docs identical text, same source) → ESS = n
    (ratio 1e6); a source where one doc carries all the target-domain
    mass → ESS collapses toward 1 and is flagged degenerate."""
    from weatherdatapipeline_spark.queries import importance_weight_ess

    # uniform source: 10 identical non-target docs → identical weights
    docs = [(i, "same words here", "uniform") for i in range(10)]
    # skew source: one doc packed with target-only vocabulary, the rest
    # share an unrelated non-target vocabulary; lang drives the target
    docs += [(100, " ".join(f"tgt{i}" for i in range(40)), "skew")]
    docs += [(101 + i, "filler common words", "skew") for i in range(11)]
    df = spark.createDataFrame(
        [(i, t, "en" if i == 100 else "fr", s, len(t)) for i, t, s in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r["source"]: r for r in importance_weight_ess(spark, str(tmp_path)).collect()}
    uni = got["uniform"]
    assert uni["n_docs"] == 10
    assert uni["ess_ratio_q6"] == 1_000_000  # identical weights → ESS = n
    assert uni["degenerate"] == 0
    sk = got["skew"]
    assert sk["n_docs"] == 12
    assert sk["ess_ratio_q6"] < 100_000 and sk["degenerate"] == 1
    assert sk["ess_q4"] < 2 * 10_000  # ESS collapses toward ~1 doc


def test_dsir_gumbel_resample_deterministic_and_replayable(spark, tmp_path):
    """The Gumbel key must equal lw − ln(−ln(u)) with u replayed from
    md5(doc_id||'|gumbel') exactly; two runs select the identical set;
    the selection differs from the plain lw-top-k ordering (noise
    actually reshuffles the tail)."""
    import hashlib
    import math

    from weatherdatapipeline_spark.queries import dsir_gumbel_resample_top100

    docs = [(i, f"w{i % 7} common text {'en' if i % 3 else 'fr'}", "s")
            for i in range(150)]
    df = spark.createDataFrame(
        [(i, t, "en" if i % 3 else "fr", s, len(t)) for i, t, s in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    a = dsir_gumbel_resample_top100(spark, str(tmp_path)).collect()
    b = dsir_gumbel_resample_top100(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 100
    for r in a[:5]:  # replay the key from the hash exactly
        u = (int(hashlib.md5(f"{r['doc_id']}|gumbel".encode()).hexdigest()[:8], 16)
             + 0.5) / 4294967296.0
        want = round(r["lw"] - math.log(-math.log(u)), 6)
        assert abs(r["gumbel_key"] - want) < 1e-9
    # noise reshuffles: selection order differs from pure-lw order
    by_lw = [r["doc_id"] for r in sorted(a, key=lambda r: (-r["lw"], r["doc_id"]))]
    assert by_lw != [r["doc_id"] for r in a]


def test_negative_edge_samples_exclusions(spark, tmp_path):
    """On a tiny planted graph, every kept negative must be an existing
    node, differ from its source, and not be a true edge; drops are
    accounted, and two runs are identical (pure hash draw)."""
    import hashlib

    from weatherdatapipeline_spark.queries import negative_edge_samples

    # suppliers 1..6 via parts: edges (1,2), (3,4), (5,6) at quantity 50
    rows = [(100, 1, 50.0), (100, 2, 50.0),
            (200, 3, 50.0), (200, 4, 50.0),
            (300, 5, 50.0), (300, 6, 50.0)]
    spark.createDataFrame(
        rows, "l_partkey LONG, l_suppkey LONG, l_quantity DOUBLE"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = negative_edge_samples(spark, str(tmp_path)).collect()
    assert {r["slot"] for r in got} <= {1, 2, 3}
    for r in got:
        assert r["n_requested"] == 3
        assert r["n_kept"] + r["n_dropped"] == 3
        assert 0 < r["n_kept"] <= 3
    # replay one slot by hand to confirm the exclusion rules
    edges = {(1, 2), (3, 4), (5, 6)}
    for j in (1, 2, 3):
        kept_src = kept_neg = 0
        for a, b in sorted(edges):
            cand = int(hashlib.md5(f"{a}|{b}|{j}".encode()).hexdigest()[:8], 16) % 6 + 1
            if cand == a:
                continue
            if (min(a, cand), max(a, cand)) in edges:
                continue
            kept_src += a
            kept_neg += cand
        row = next((r for r in got if r["slot"] == j), None)
        if row is None:
            assert kept_src == 0
        else:
            assert (row["src_checksum"], row["neg_checksum"]) == (kept_src, kept_neg)
    again = negative_edge_samples(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))
