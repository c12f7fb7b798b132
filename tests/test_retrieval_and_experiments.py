"""Tests for the retrieval (BM25, RRF), experimentation (A/B z-test),
graph (PageRank), seasonal-anomaly, and validation-routing operators."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators import graph as G
from weatherdatapipeline_spark.operators import quality as Q
from weatherdatapipeline_spark.operators import similarity as S
from weatherdatapipeline_spark.operators import stats as ST
from weatherdatapipeline_spark.operators import text as T


def _bm25_ref(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_bm25_matches_closed_form(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in T.bm25_scores(docs, ["apple", "cherry"]).collect()
    }
    n, avgdl = 3, 3.0
    # d1: apple tf=2 (df=1), dl=3
    assert got[1]["n_terms_matched"] == 1
    assert abs(got[1]["bm25"] - _bm25_ref(2, 1, n, 3, avgdl)) < 1e-12
    # d2: cherry tf=1 (df=2), dl=2
    assert abs(got[2]["bm25"] - _bm25_ref(1, 2, n, 2, avgdl)) < 1e-12
    # d3: cherry tf=4, dl=4
    assert abs(got[3]["bm25"] - _bm25_ref(4, 2, n, 4, avgdl)) < 1e-12
    # longer doc with same tf must score LOWER (length normalization)
    assert got[3]["bm25"] < _bm25_ref(4, 2, n, 2, avgdl)


def test_rrf_fuse_missing_items_contribute_zero(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: r for r in S.rrf_fuse([a, b], k=60).collect()}
    assert abs(got[1]["rrf"] - 1 / 61) < 1e-12 and got[1]["rank_1"] is None
    assert abs(got[2]["rrf"] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(got[3]["rrf"] - 1 / 62) < 1e-12 and got[3]["rank_0"] is None
    # consensus item (in both lists) outranks either single-list item
    assert got[2]["rrf"] > got[1]["rrf"] > got[3]["rrf"]


def _variant(uid: int) -> int:
    return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2


def test_ab_ztest_matches_hand_computation(spark):
    # enough users for both variants to be populated; conversion iff uid % 3
    import datetime as dt

    users = list(range(40))
    rows = []
    for uid in users:
        etype = "purchase" if uid % 3 == 0 else "view"
        rows.append((uid, dt.datetime(2024, 1, 1), uid, etype, 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    row = ST.ab_conversion_ztest(ev).collect()[0]
    n = {0: 0, 1: 0}
    conv = {0: 0, 1: 0}
    for uid in users:
        v = _variant(uid)
        n[v] += 1
        conv[v] += 1 if uid % 3 == 0 else 0
    assert row["n_control"] == n[0] and row["n_treatment"] == n[1]
    assert row["conv_control"] == conv[0] and row["conv_treatment"] == conv[1]
    p0, p1 = conv[0] / n[0], conv[1] / n[1]
    pooled = (conv[0] + conv[1]) / (n[0] + n[1])
    se = math.sqrt(pooled * (1 - pooled) * (1 / n[0] + 1 / n[1]))
    assert abs(row["z_score"] - round((p1 - p0) / se, 6)) < 1e-9
    assert abs(row["rate_control"] - round(p0, 6)) < 1e-9


def test_pagerank_ring_is_uniform(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["pr"] for r in G.pagerank(edges, iters=10).collect()}
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_matches_reference_loop(spark):
    # a -> {b: .5, c: .5}; b -> a; c -> a  (no dangling nodes)
    e = [("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0), ("c", "a", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, w double")
    got = {r["node"]: r["pr"] for r in G.pagerank(edges, iters=5).collect()}
    pr = {k: 1 / 3 for k in "abc"}
    for _ in range(5):
        nxt = {}
        for node in "abc":
            s = sum(pr[s_] * w for s_, d, w in e if d == node)
            nxt[node] = 0.15 / 3 + 0.85 * s
        pr = nxt
    for k in "abc":
        assert abs(got[k] - pr[k]) < 1e-12
    # hub 'a' receives from both leaves: highest rank
    assert got["a"] > got["b"] == got["c"]


def test_seasonal_anomaly_events_flags_cohort_outlier(spark, tmp_path):
    import datetime as dt

    from weatherdatapipeline_spark.queries import QUERIES

    rows = []
    # cohort (x, hour 0): nine 10s and one 100 -> z(100) ~ 2.846
    for i in range(9):
        rows.append((i, dt.datetime(2024, 1, 1 + i, 0, 30), 1, "x", 10.0, "{}"))
    rows.append((9, dt.datetime(2024, 1, 15, 0, 30), 1, "x", 100.0, "{}"))
    # zero-variance cohort (y, hour 3): constant -> no outliers, no crash
    for i in range(5):
        rows.append((100 + i, dt.datetime(2024, 1, 1 + i, 3, 0), 2, "y", 7.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["seasonal_anomaly_events"](spark, str(tmp_path)).collect()
    assert [r["event_id"] for r in out] == [9]
    mu = 19.0
    sd = math.sqrt((9 * 81 + 81**2) / 9.0)
    assert abs(out[0]["z_score"] - round((100 - mu) / sd, 6)) < 1e-9


def test_validate_and_route_collects_all_reasons(spark):
    long_en = "word " * 40  # 200 chars, 40 tokens
    docs = spark.createDataFrame(
        [
            (1, long_en.strip(), "en", "s", len(long_en.strip())),
            (2, "short text " * 3, "en", "s", 33),  # too_short + too_few_tokens
            (3, long_en.strip(), "zh", "s", len(long_en.strip())),  # lang only
            (4, "tiny", "zh", "s", 4),  # all three rules
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in Q.validate_and_route(docs).collect()}
    assert 1 not in got  # clean doc passes
    assert got[2]["reasons"] == "too_short,too_few_tokens"
    assert got[3]["reasons"] == "unsupported_lang"
    assert got[4]["n_reasons"] == 3
    assert got[4]["reasons"] == "too_short,unsupported_lang,too_few_tokens"


def test_quarantine_is_map_only(spark, sf_dir):
    """The validation split must pipeline with the scan: zero Exchange."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = Q.validate_and_route(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
