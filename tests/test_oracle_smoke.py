"""In-pytest oracle smoke: a representative query subset compared against
DuckDB at sf0.001, so plain `pytest` catches oracle drift without the full
tools/check_oracle.py run (which remains the authoritative gate at sf0.01)."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pytest

from weatherdatapipeline_spark.queries import _DOW_MON0, ORACLES, QUERIES, _t

# oracle texts made portable: Monday = 0, Sunday = 1 plus BIGINT, DECIMAL -> DOUBLE
PORTABLE = ["james_stein_type_dow_means", "k_anonymity_audit", "mutual_information_type_value"]

SMOKE = [
    "q1_pricing_summary",
    "region_revenue",
    "asof_join_click_to_view",
    "window_rolling_stats",
    "latest_event_per_user",
    "calendar_activity",
    "dedup_exact_documents",
    "dedup_jaccard_pairs",
    "similarity_topk",
    "pivot_event_type_counts",
    "eval_persistence_forecast",
    "funnel_view_click_purchase",
    "retention_weekly_cohorts",
    "ohlc_resample_daily",
    "q6_forecast_revenue",
    "kmeans_cluster_assignments",
    "cms_token_frequencies",
    "mmr_diverse_top3",
    # r10 wave 3
    "wilcoxon_signed_rank_weekend",
    "nelson_aalen_churn",
    "mcnemar_click_purchase",
    "runs_test_daily_value",
    "cochran_armitage_hour_trend",
    "markov_stationary_event_types",
    "ccf_leadlag_purchase_error",
    "media_phash_pairs",
    "editdist_part_name_pairs",
    "clustering_coefficient_cosupply",
    "friedman_daily_types",
    "ljung_box_daily_value",
    "hurst_rescaled_range",
    "media_audiofp_pairs",
    "cramer_von_mises_weekend",
    "ranking_eval_purchase",
    "geo_radius_pairs",
    "dbscan_customer_geo",
    "label_propagation_cosupply",
    "geo_knn_customers",
    "hll_trailing7_distinct",
    "pareto_customer_revenue",
    "textrank_keywords",
    "streaming_topk_types_per_window",
    "cohort_ltv_curve",
    "nearest_facility_assignment",
    "km_greenwood_bands",
    "cmh_stratified_association",
    "capture_recapture_users",
    "mh_common_odds_ratio",
    "diebold_mariano_forecasts",
    *PORTABLE,
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.12g}"
    return str(v)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SMOKE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    s_order = sorted(range(len(scols)), key=lambda i: scols[i])
    d_order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    ms = Counter(tuple(norm(r[i]) for i in s_order) for r in srows)
    md = Counter(tuple(norm(r[i]) for i in d_order) for r in drows)
    assert ms == md


# ---- register_sql binding: queries whose build is spark.sql(oracle) ----


def _duck_at(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con


def _strict_problems(sdf, d, name):
    from tools.check_oracle import strict_compare

    return strict_compare(sdf.toPandas(), _duck_at(d).execute(ORACLES[name]).df())


@pytest.mark.parametrize("ts_type", ["timestamp[ns]", "timestamp[us, tz=UTC]"])
def test_register_sql_pins_utc_for_a_non_utc_caller(spark, sf_dir, tmp_path, ts_type):
    """hour(ts) over events in the legacy nanos layout and in a UTC-
    adjusted layout, built from a Los Angeles session: the build binds
    events through _t (nanos decode, UTC pin), so it matches DuckDB on
    the original files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = "cochran_armitage_hour_trend"
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    unit, tz = ("ns", None) if ts_type == "timestamp[ns]" else ("us", "UTC")
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev.column("ts").cast(pa.timestamp(unit, tz=tz)))
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        spd = QUERIES[name](spark, str(tmp_path)).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    from tools.check_oracle import strict_compare

    assert strict_compare(spd, _duck_at(sf_dir).execute(ORACLES[name]).df()) == []


def test_register_sql_binds_each_builds_own_scale(spark, sf_dir):
    name = "q1_pricing_summary"
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for d in (sf_dir, other):
        assert _strict_problems(QUERIES[name](spark, d), d, name) == []


@pytest.mark.parametrize("name", PORTABLE)
def test_portable_oracle_text_matches_strict(spark, sf_dir, name):
    """The strict compare sees what the smoke check above cannot: the
    BIGINT width and the DOUBLE of a rounded DECIMAL."""
    assert _strict_problems(QUERIES[name](spark, sf_dir), sf_dir, name) == []


def test_register_sql_frame_keeps_its_tables_after_a_later_build(spark, sf_dir):
    name = "q1_pricing_summary"
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    first = QUERIES[name](spark, sf_dir)
    QUERIES[name](spark, other)  # re-binds the same view names to other files
    assert not spark.catalog.tableExists("lineitem")  # views dropped after analysis
    assert _strict_problems(first, sf_dir, name) == []


def test_dow_mon0_matches_duckdb_dayofweek_on_both_engines(spark, tmp_path):
    """Seven consecutive days at the first and the last microsecond, plus
    a NULL: _DOW_MON0 and the weekend flag built on it give DuckDB's
    Monday = 0 numbering and its Sunday/Saturday weekend on Spark and on
    DuckDB alike."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    days = [dt.datetime(2024, 1, 1) + dt.timedelta(days=d) for d in range(7)]
    ts = [t for d in days for t in (d, d + dt.timedelta(days=1, microseconds=-1))]
    ts.append(None)
    table = pa.table({"id": pa.array(range(len(ts)), pa.int64()),
                      "ts": pa.array(ts, pa.timestamp("us"))})
    pq.write_table(table, str(tmp_path / "events.parquet"))
    cols = ["id", f"{_DOW_MON0} AS mon0", f"{_DOW_MON0} >= 5 AS weekend"]
    got = {r["id"]: (r["mon0"], r["weekend"])
           for r in _t(spark, str(tmp_path), "events").selectExpr(*cols).collect()}
    rows = duckdb.connect().execute(
        f"SELECT {', '.join(cols)}, (dayofweek(ts) + 6) % 7, dayofweek(ts) IN (0, 6) "
        f"FROM '{tmp_path}/events.parquet'"
    ).fetchall()
    want = {i: (m, w) for i, _, _, m, w in rows}
    assert {i: (m, w) for i, m, w, _, _ in rows} == want
    assert got == want
    assert [want[i][0] for i in range(0, 14, 2)] == list(range(7))
    assert want[len(ts) - 1] == (None, None)
