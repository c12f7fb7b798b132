"""The weather feature and scoring plans built from SQL expression text
(operators/features.py ``sql_ident`` / ``sql_literal``): same columns, rows
and predictions as the same expressions built from ``Column`` calls, for
category levels that need quoting, and a plan-building cost that does not
grow with the number of cities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType

from weatherdatapipeline_spark.ml.pipeline import _assembler, predict, train
from weatherdatapipeline_spark.operators.features import (
    ONE_HOT_COLS,
    align_features,
    engineer_features,
    sql_ident,
    sql_literal,
    with_calendar,
)
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather

# City and country levels that SQL text must quote: a quote (which a doubled
# '' would turn into two concatenated literals), backslash, backtick, dot,
# space, non-ASCII and text that reads as SQL. "Aachen" sorts first, so it
# is the dropped level and every adversarial one gets a column.
ADVERSARIAL = [
    ("Aachen", "AA"),
    ("St. John's", "C'A"),
    ("back\\slash", "B\\S"),
    ("tick`tock", "T`K"),
    ("dot.city", "D.T"),
    ("space city", "S P"),
    ("São Paulo", "BR"),
    ("x' OR 'a'='a", "x' OR 'a'='a"),
]


@pytest.fixture(scope="module")
def adversarial(spark):
    weather = synthetic_weather(spark, n_batches=8, cities=ADVERSARIAL)
    cal = with_calendar(weather)
    categories = {c: sorted({r[0] for r in cal.select(c).collect()}) for c in ONE_HOT_COLS}
    return weather, categories


def _by_key(df, cols):
    return {(r["city"], r["timestamp"]): tuple(r[c] for c in cols) for r in df.collect()}


def test_sql_literal_round_trips(spark):
    levels = [name for pair in ADVERSARIAL for name in pair] + ["${env:HOME}", "a{b}", "tab\there"]
    exprs = [f"{sql_literal(v)} AS c{i}" for i, v in enumerate(levels)]
    row = spark.range(1).selectExpr(*exprs).first()
    assert list(row) == levels
    assert sql_literal(7) == "7"
    with pytest.raises(TypeError):
        sql_literal(1.5)
    assert sql_ident("tick`tock") == "`tick``tock`"
    # Spark rewrites ${...} inside SQL text and a quoted identifier cannot
    # escape it: such a name is refused, not silently renamed
    with pytest.raises(ValueError, match="substitutes"):
        sql_ident("city_${env:HOME}")


def test_onehot_columns_match_column_reference(adversarial):
    weather, categories = adversarial
    feats, cols = engineer_features(weather, inference=True, categories=categories)
    expected = [f"{c}_{level}" for c in ONE_HOT_COLS for level in categories[c][1:]]
    assert [c for c in cols if c in expected] == expected
    for city, _ in ADVERSARIAL[1:]:
        assert f"city_{city}" in feats.columns
    # the same one-hot expressions from Column calls, aliased to the same names
    ref = with_calendar(weather).select(
        "city",
        "timestamp",
        *[
            (F.col(c) == F.lit(level)).alias(f"{c}_{level}")
            for c in ONE_HOT_COLS
            for level in categories[c][1:]
        ],
    )
    got, want = _by_key(feats, expected), _by_key(ref, expected)
    assert got == want and len(got) == weather.count()
    for (city, _), values in got.items():
        flags = {name: v for name, v in zip(expected, values) if name.startswith("city_")}
        assert [n for n, v in flags.items() if v] == ([f"city_{city}"] if city != "Aachen" else [])


def test_training_filter_keeps_column_reference_rows(adversarial):
    weather, categories = adversarial
    train_side, cols = engineer_features(weather, inference=False, categories=categories)
    serve_side, _ = engineer_features(weather, inference=True, categories=categories)
    # Column-API filter over positional names, so no name needs quoting
    names = serve_side.columns
    positional = serve_side.toDF(*[f"c{i}" for i in range(len(names))])
    cond = F.lit(True)
    for c in cols + ["target_temp_next", "target_condition"]:
        cond = cond & F.col(f"c{names.index(c)}").isNotNull()
    keys = [f"c{names.index('city')}", f"c{names.index('timestamp')}"]
    want = {(r[0], r[1]) for r in positional.filter(cond).select(*keys).collect()}
    got = {(r[0], r[1]) for r in train_side.select("city", "timestamp").collect()}
    assert got == want
    assert 0 < len(got) < weather.count()


def test_align_fills_missing_columns_with_typed_defaults(adversarial):
    weather, categories = adversarial
    feats, cols = engineer_features(weather, inference=True, categories=categories)
    dropped = "city_dot.city"
    without = feats.selectExpr(*[sql_ident(c) for c in feats.columns if c != dropped])
    fills = {"temp_lag_9": 0.0, "city_Nowhere's `x`": False, dropped: False}
    want = cols[:3] + ["temp_lag_9"] + cols[3:] + ["city_Nowhere's `x`"]
    aligned = align_features(without, want)
    assert aligned.columns == ["city", "timestamp", "target_temp_next", "target_condition", *want]
    # the fills have the types of the Column-API literals F.lit(0.0) / F.lit(False)
    ref = without.select(*[F.lit(v).alias(c) for c, v in fills.items()])
    for c in fills:
        assert aligned.schema[c].dataType == ref.schema[c].dataType
    assert ref.schema["temp_lag_9"].dataType == DoubleType()
    assert ref.schema[dropped].dataType == BooleanType()
    at = {c: aligned.columns.index(c) for c in want}
    got = aligned.collect()
    assert {tuple(r[at[c]] for c in fills) for r in got} == {tuple(fills.values())}
    # every other expected column passes through unchanged
    kept = [c for c in want if c not in fills]
    src = {c: feats.columns.index(c) for c in kept}
    key = lambda vals: sorted(vals, key=repr)  # noqa: E731
    assert key([tuple(r[at[c]] for c in kept) for r in got]) == key(
        [tuple(r[src[c]] for c in kept) for r in feats.collect()]
    )


def test_training_plan_cost_does_not_grow_with_cities(spark, py4j_calls):
    """Building the training feature plan (no job) over 200 cities costs at
    most ~2 driver→JVM round-trips per extra one-hot level over 10 cities
    (the Column-call build paid ~25 per level); so does the source."""
    costs = {}
    for n in (10, 200):
        cities = [(f"City{i:03d}", f"C{i % 37:02d}") for i in range(n)]
        with py4j_calls() as source_calls:
            weather = synthetic_weather(spark, n_batches=4, cities=cities)
        categories = {
            "city": sorted(c for c, _ in cities),
            "country": sorted({k for _, k in cities}),
            "hour": list(range(24)),
            "dayofweek": list(range(7)),
        }
        engineer_features(weather, inference=False, categories=categories)  # warm
        with py4j_calls() as calls:
            _, cols = engineer_features(weather, inference=False, categories=categories)
        costs[n] = (calls.n, len(cols), source_calls.n)
    (small, small_cols, small_src), (big, big_cols, big_src) = costs[10], costs[200]
    extra_levels = big_cols - small_cols
    assert extra_levels > 190
    assert big - small <= 2 * extra_levels, costs
    assert big_src - small_src <= 2 * (200 - 10), costs


@pytest.fixture(scope="module")
def bundle(spark):
    weather = synthetic_weather(spark, n_batches=20)
    return train(weather, n_splits=1, n_trees=5), weather


def _column_predict(models, weather):
    """``predict``'s mask and label lookup built from Column calls."""
    cfg = models.feature_config
    feats, _ = engineer_features(
        weather,
        inference=True,
        categories=models.categories,
        lags=cfg.get("lags"),
        rolling_windows=cfg.get("rolling_windows"),
    )
    feats = align_features(feats, models.feature_cols)
    scorable = F.lit(True)
    for c in models.feature_cols:
        scorable = scorable & F.col(c).isNotNull()
    assembled = _assembler(models.feature_cols, "keep").transform(feats)
    scored = models.regressor.transform(assembled).withColumnRenamed(
        "prediction", "pred_temperature"
    )
    scored = models.classifier.transform(scored)
    labels = F.array(*[F.lit(x) for x in models.label_indexer.labels])
    pred_condition = F.element_at(labels, F.col("prediction").cast("int") + 1)
    return scored.select(
        "city",
        "timestamp",
        F.when(scorable, F.col("pred_temperature")).alias("pred_temperature"),
        F.when(scorable, pred_condition).alias("pred_condition"),
    )


def test_predict_equals_column_reference(bundle):
    models, weather = bundle
    got = predict(models, weather)
    want = _column_predict(models, weather)
    assert got.schema == want.schema
    rows = sorted(got.collect(), key=lambda r: (r["city"], r["timestamp"]))
    assert rows == sorted(want.collect(), key=lambda r: (r["city"], r["timestamp"]))
    assert len(rows) == weather.count()
    masked = [r for r in rows if r["pred_temperature"] is None]
    assert len(masked) == 10 * 3  # per city: 3 lag warm-up rows
    assert all(r["pred_condition"] is None for r in masked)
