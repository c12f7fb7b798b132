"""Planted-property tests for the round-7 wave-2 queries (rank/trend/
retrieval-eval/association/inequality): each builds a miniature table
where the statistic has a known closed-form answer and runs the
REGISTERED query against it, so the assertions are independent of the
DuckDB differential."""

from __future__ import annotations

import datetime as dt
import math

import pytest


def _write_events(spark, path, rows):
    """rows: (event_id, iso_ts, user_id, value, event_type)."""
    df = spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(ts), u, float(v), et, "{}")
            for i, ts, u, v, et in rows
        ],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_documents(spark, path, rows):
    """rows: (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_lineitem(spark, path, rows):
    """rows: (l_quantity, l_extendedprice, l_discount, l_tax)."""
    df = spark.createDataFrame(
        [tuple(float(x) for x in r) for r in rows],
        "l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE",
    )
    df.write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def test_spearman_perfect_monotone_and_antitone(spark, tmp_path):
    """extendedprice = exp(quantity/5) is a NONLINEAR monotone map, so
    Pearson < 1 but Spearman must be exactly 1; tax = -quantity gives
    exactly -1. Exercises both rank paths (quantity -> distinct-value
    decomposition, extendedprice -> range shards)."""
    from weatherdatapipeline_spark.queries import spearman_corr_lineitem

    rows = [
        (i, math.exp(i / 5.0), (i % 5) / 100.0, 40 - i) for i in range(1, 41)
    ]
    _write_lineitem(spark, str(tmp_path), rows)
    got = {
        (r["col_x"], r["col_y"]): r["spearman"]
        for r in spearman_corr_lineitem(spark, str(tmp_path)).collect()
    }
    assert got[("l_quantity", "l_extendedprice")] == pytest.approx(1.0)
    assert got[("l_quantity", "l_tax")] == pytest.approx(-1.0)
    assert got[("l_extendedprice", "l_tax")] == pytest.approx(-1.0)


def test_spearman_average_ranks_with_ties(spark, tmp_path):
    """quantity carries duplicate values (ties) while extendedprice is
    a strictly increasing tiebroken version of the same order: the
    tie-averaged ranks still correlate ~1 but NOT exactly 1 (the exact
    value is checkable by hand: Pearson of [1.5,1.5,3.5,3.5] vs
    [1,2,3,4] = 0.894427...)."""
    from weatherdatapipeline_spark.queries import spearman_corr_lineitem

    rows = [
        (1, 10.0, 0.0, 0.01),
        (1, 20.0, 0.01, 0.02),
        (2, 30.0, 0.02, 0.03),
        (2, 40.0, 0.03, 0.04),
    ]
    _write_lineitem(spark, str(tmp_path), rows)
    got = {
        (r["col_x"], r["col_y"]): r["spearman"]
        for r in spearman_corr_lineitem(spark, str(tmp_path)).collect()
    }
    # corr([1.5,1.5,3.5,3.5], [1,2,3,4]) = 2/sqrt(5)
    assert got[("l_quantity", "l_extendedprice")] == pytest.approx(
        2 / math.sqrt(5), abs=1e-6
    )


def test_theil_sen_recovers_planted_linear_trend(spark, tmp_path):
    """Daily means follow v = 2*day exactly, so EVERY pairwise slope is
    2: Theil-Sen median = 2, Mann-Kendall S = n_pairs, tau = 1."""
    from weatherdatapipeline_spark.queries import theil_sen_trend_by_type

    rows = []
    eid = 0
    for day in range(1, 11):
        for _ in range(3):  # 3 events/day, same value -> exact daily mean
            rows.append((eid, f"2024-03-{day:02d}T12:00:00", 1, 2.0 * day, "click"))
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = theil_sen_trend_by_type(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_pairs"] == 45  # C(10,2)
    assert r["theil_sen_slope"] == pytest.approx(2.0)
    assert r["mk_s"] == 45
    assert r["kendall_tau"] == pytest.approx(1.0)


def test_ndcg_properties_on_tiny_corpus(spark, tmp_path):
    """3 docs matching 3/2/1 query terms with identical lengths: the
    BM25 order equals the relevance order, so nDCG must be exactly 1;
    structural invariants (dcg <= idcg, n_candidates) hold."""
    from weatherdatapipeline_spark.queries import ndcg_bm25_eval

    filler = "pad word "
    rows = [
        (0, "spark merge vector " + filler * 3, "en", "a"),
        (1, "spark merge the the the " + filler * 3, "en", "a"),
        (2, "spark the the the the the " + filler * 3, "en", "a"),
        (3, "nothing relevant here at all " + filler * 3, "en", "a"),
    ]
    _write_documents(spark, str(tmp_path), rows)
    r = ndcg_bm25_eval(spark, str(tmp_path)).collect()[0]
    assert r["k"] == 10
    assert r["n_candidates"] == 3
    assert r["idcg"] >= r["dcg"] > 0
    assert r["ndcg"] == pytest.approx(1.0)


def test_cramers_v_planted_perfect_association(spark, tmp_path):
    """documents: lang is a FUNCTION of source -> V = 1. events:
    event_type is a function of day-of-week -> V = 1. dof checks the
    contingency dimensions."""
    from weatherdatapipeline_spark.queries import QUERIES

    docs = [
        (i, "text body", ["en", "de", "fr"][i % 3], ["s_en", "s_de", "s_fr"][i % 3])
        for i in range(30)
    ]
    _write_documents(spark, str(tmp_path), docs)
    # 2024-03-04 is a Monday; type = weekday name -> perfect association
    events = []
    for d in range(14):
        day = dt.date(2024, 3, 4) + dt.timedelta(days=d)
        et = f"type_{day.isoweekday()}"
        for j in range(3):
            events.append((d * 10 + j, f"{day.isoformat()}T08:00:00", 1, 5.0, et))
    _write_events(spark, str(tmp_path), events)
    got = {r["pair"]: r for r in QUERIES["cramers_v_matrix"](spark, str(tmp_path)).collect()}
    d = got["documents_lang_source"]
    assert d["n"] == 30 and d["dof"] == 4
    assert d["cramers_v"] == pytest.approx(1.0)
    e = got["events_type_dow"]
    assert e["dof"] == 36  # 7 types x 7 dows
    assert e["cramers_v"] == pytest.approx(1.0)


def test_gini_zero_for_equal_and_exact_small_case(spark, tmp_path):
    """Equal values -> G = 0; values [1,2,3,4] -> G = 0.25 by hand
    (2*(1+4+9+16)/(4*10) - 5/4)."""
    from weatherdatapipeline_spark.queries import QUERIES

    rows = [(i, "2024-05-01T00:00:00", 1, 5.0, "flat") for i in range(10)]
    rows += [
        (100 + i, "2024-05-01T00:00:00", 1, float(v), "ramp")
        for i, v in enumerate([1, 2, 3, 4])
    ]
    _write_events(spark, str(tmp_path), rows)
    got = {r["event_type"]: r for r in QUERIES["gini_concentration_by_type"](spark, str(tmp_path)).collect()}
    assert got["flat"]["gini"] == pytest.approx(0.0, abs=1e-9)
    assert got["ramp"]["n"] == 4
    assert got["ramp"]["gini"] == pytest.approx(0.25)
