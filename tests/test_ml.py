"""ML path tests: time-ordered CV, train→predict→eval, registry lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.ml.pipeline import (
    classification_metrics,
    predict,
    regression_metrics,
    time_series_splits,
    train,
)
from weatherdatapipeline_spark.ml.registry import LocalRegistry
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather


def test_time_series_splits_expanding():
    splits = time_series_splits(60, 5)
    assert len(splits) == 5
    prev_train = 0
    for train_end, val_end in splits:
        assert train_end > prev_train  # expanding prefix
        assert val_end > train_end  # non-empty validation chunk
        prev_train = train_end
    assert splits[-1][1] == 60  # covers the tail


def test_time_series_splits_skip_empty_folds_like_row_filters():
    """The folds train() skips without a Spark job are exactly those whose
    ``_row`` range filters select no row of 1..n."""
    for n in range(41):
        rows = range(1, n + 1)
        for n_splits in range(1, 6):
            fold = n // (n_splits + 1)
            raw = [
                (te, min(te + fold, n))
                for te in (fold * k + n % (n_splits + 1) for k in range(1, n_splits + 1))
            ]
            non_empty = [
                (te, ve)
                for te, ve in raw
                if any(r <= te for r in rows) and any(te < r <= ve for r in rows)
            ]
            assert time_series_splits(n, n_splits) == non_empty, (n, n_splits)


def test_metrics_known_values(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 3.0), (5.0, 1.0)], "y double, yhat double"
    )
    m = regression_metrics(df, "y", "yhat")
    assert abs(m["mae"] - (1 + 0 + 4) / 3) < 1e-9
    assert abs(m["rmse"] - ((1 + 0 + 16) / 3) ** 0.5) < 1e-9
    dfc = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 1.0)], "y double, yhat double"
    )
    mc = classification_metrics(dfc, "y", "yhat")
    assert abs(mc["accuracy"] - 0.75) < 1e-9
    # class 0: p=1, r=.5, f1=2/3 sup=2; class 1: p=2/3, r=1, f1=0.8 sup=2
    assert abs(mc["weighted_f1"] - (2 / 3 * 2 + 0.8 * 2) / 4) < 1e-9


@pytest.fixture(scope="module")
def trained(spark):
    weather = synthetic_weather(spark, n_batches=30)
    return train(weather, n_splits=3, n_trees=5), weather


def test_train_produces_metrics(trained):
    models, _ = trained
    for k in ("mae", "rmse", "accuracy", "weighted_f1"):
        assert k in models.metrics
    assert models.metrics["n_folds"] == 3.0
    assert models.metrics["mae"] >= 0


def test_train_fold_metrics_equal_serial_fits(trained):
    """The concurrently issued CV fits score exactly as serial fits of the
    same folds, written out here one after the other."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    from weatherdatapipeline_spark.ml.pipeline import with_time_order
    from weatherdatapipeline_spark.operators.features import engineer_features

    models, weather = trained
    feats, cols = engineer_features(
        weather, inference=False, categories=models.categories, **models.feature_config
    )
    feats = with_time_order(feats)
    assembled = models.label_indexer.transform(
        VectorAssembler(inputCols=cols, outputCol="features").transform(feats)
    )
    folds = []
    for train_end, val_end in time_series_splits(feats.count(), 3):
        tr = assembled.filter(F.col("_row") <= train_end)
        va = assembled.filter((F.col("_row") > train_end) & (F.col("_row") <= val_end))
        reg = RandomForestRegressor(
            featuresCol="features", labelCol="target_temp_next", numTrees=5, seed=42
        ).fit(tr)
        clf = RandomForestClassifier(
            featuresCol="features", labelCol="label_idx", numTrees=5, seed=42
        ).fit(tr)
        folds.append({
            **regression_metrics(reg.transform(va), "target_temp_next", "prediction"),
            **classification_metrics(clf.transform(va), "label_idx", "prediction"),
        })
    assert len(folds) == models.metrics["n_folds"] == 3
    for k in ("mae", "rmse", "accuracy", "weighted_f1"):
        assert models.metrics[k] == sum(f[k] for f in folds) / len(folds), k


def test_train_adaptive_feature_fallback(spark, tmp_path):
    """Small corpora retry with lighter lags/windows before the hard floor
    (reference training.py:29-40). 80 raw rows -> default depth leaves 40
    usable (< 50) -> first fallback (lags=[1], rolling=[2]) leaves 60
    (>= 30) and is chosen; the config is recorded and round-trips through
    the registry so inference regenerates matching features."""
    weather = synthetic_weather(spark, n_batches=8)  # 10 cities x 8 rows
    models = train(weather, n_splits=2, n_trees=3)
    assert models.feature_config == {"lags": [1], "rolling_windows": [2]}
    assert all("lag_3" not in c for c in models.feature_cols)
    assert any("lag_1" in c for c in models.feature_cols)

    reg = LocalRegistry(str(tmp_path))
    reg.log("fb", models, params={})
    loaded = reg.load(spark, reg.latest("fb"))
    assert loaded.feature_config == models.feature_config
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_train_default_depth_when_enough_rows(trained):
    models, _ = trained
    assert models.feature_config == {"lags": [1, 3], "rolling_windows": [3]}


def test_train_insufficient_rows_raises(spark):
    tiny = synthetic_weather(spark, n_batches=5)  # 50 rows → ~10 survive filter
    with pytest.raises(ValueError, match="insufficient"):
        train(tiny, min_rows=1000)


def test_predict_appends_columns_keeps_warmup_rows(trained):
    models, weather = trained
    preds = predict(models, weather)
    assert preds.count() == weather.count()  # inference keeps ALL rows (J1-free)
    n_null = preds.filter(F.col("pred_temperature").isNull()).count()
    assert n_null == 10 * 3  # per city: 3 lag-warm-up rows unscorable
    assert preds.filter(F.col("pred_condition").isNull()).count() == n_null
    scored = preds.filter(F.col("pred_temperature").isNotNull())
    conditions = {r["pred_condition"] for r in scored.select("pred_condition").distinct().collect()}
    assert conditions <= {"Clear", "Clouds", "Rain", "Mist", "Thunderstorm"}


def test_predict_one_row_per_input_row_with_duplicate_poll(trained):
    """A repeated (city, timestamp) poll stays one output row per input row
    (a left join of the keys back onto the predictions multiplied it)."""
    models, weather = trained
    last = weather.orderBy(F.desc("timestamp"), "city").limit(1)
    dup = weather.unionByName(last)
    preds = predict(models, dup)
    assert preds.count() == dup.count() == weather.count() + 1
    assert preds.filter(F.col("pred_temperature").isNull()).count() == 10 * 3


def test_serve_onehots_match_train(trained):
    """No train/serve skew: for the same rows, the one-hot columns inference
    aligns to the model equal the ones training fitted on — including the
    calendar ones (hour_*/dayofweek_*), which must not be filled with False
    for lack of stored hour/dayofweek categories."""
    from weatherdatapipeline_spark.operators.features import (
        ONE_HOT_COLS,
        align_features,
        engineer_features,
    )

    models, weather = trained
    assert set(models.categories) == set(ONE_HOT_COLS)
    prefixes = tuple(f"{c}_" for c in ONE_HOT_COLS)
    onehots = [c for c in models.feature_cols if c.startswith(prefixes)]
    assert any(c.startswith("hour_") for c in onehots)
    cfg = models.feature_config
    train_side, train_cols = engineer_features(weather, inference=False, **cfg)
    assert train_cols == models.feature_cols
    serve_side, _ = engineer_features(
        weather, inference=True, categories=models.categories, **cfg
    )
    serve_side = align_features(serve_side, models.feature_cols)
    keys = ["city", "timestamp"]
    t = {tuple(r[k] for k in keys): r for r in train_side.select(*keys, *onehots).collect()}
    s = {tuple(r[k] for k in keys): r for r in serve_side.select(*keys, *onehots).collect()}
    assert t and set(t) <= set(s)
    assert sum(r[c] for r in t.values() for c in onehots if c.startswith("hour_")) > 0
    for key, row in t.items():
        assert row.asDict() == s[key].asDict(), key


def test_logistic_regression_alternative(spark, tmp_path):
    from weatherdatapipeline_spark.ml.registry import LocalRegistry

    weather = synthetic_weather(spark, n_batches=20)
    models = train(weather, n_splits=2, n_trees=3, classifier_kind="lr")
    assert models.metrics["accuracy"] >= 0
    reg = LocalRegistry(str(tmp_path))
    reg.log("lr_model", models, params={"classifier_kind": "lr"})
    loaded = reg.load(spark, reg.latest("lr_model"))
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_condition").isNotNull()).count() > 0


def test_registry_backend_lifecycle(tmp_path, spark, trained):
    """The log -> promote -> get_stage -> load -> predict contract."""
    models, weather = trained
    reg = LocalRegistry(str(tmp_path))
    v1 = reg.log("weather", models, params={"n_trees": 5})
    assert (v1.version, v1.stage) == (1, "Staging")
    reg.promote("weather", 1, "Production")
    mv = reg.get_stage("weather", "Production")
    assert mv.version == 1 and mv.feature_cols == models.feature_cols
    loaded = reg.load(spark, mv)
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_registry_lifecycle(tmp_path, spark, trained):
    models, weather = trained
    reg = LocalRegistry(str(tmp_path))
    v1 = reg.log("weather", models, params={"n_trees": 5})
    assert (v1.version, v1.stage) == (1, "Staging")
    v2 = reg.log("weather", models, params={"n_trees": 5})
    assert v2.version == 2
    reg.promote("weather", 1, "Production")
    assert reg.get_stage("weather", "Production").version == 1
    reg.promote("weather", 2, "Production")
    got = {v.version: v.stage for v in reg.versions("weather")}
    assert got == {1: "Archived", 2: "Production"}  # stage handoff
    # reload and score — the persisted feature contract round-trips
    loaded = reg.load(spark, reg.get_stage("weather", "Production"))
    assert loaded.feature_cols == models.feature_cols
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_get_stage_falls_back_to_latest(tmp_path, trained):
    models, _ = trained
    reg = LocalRegistry(str(tmp_path) + "/fb")
    reg.log("m", models, params={})
    # nothing in Production → latest version (predict.py:33-43 fallback)
    assert reg.get_stage("m", "Production").version == 1


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _rows(preds) -> list:
    return sorted(preds.collect(), key=lambda r: (r["city"], r["timestamp"]))


def test_registry_memo(tmp_path, spark, trained):
    """Each version is read from disk at most once per registry: ``log``
    seeds the memo, a new registry reads from disk."""
    models, weather = trained
    root = str(tmp_path / "memo")
    reg = LocalRegistry(root)
    reg.log("m", models, params={})
    before = _job_ids(spark)
    loaded = reg.load(spark, reg.latest("m"))
    assert _job_ids(spark) - before == set()
    assert loaded.regressor is models.regressor

    # a fresh registry on the same root loads from disk (Spark jobs) and
    # scores the same rows
    fresh = LocalRegistry(root)
    before = _job_ids(spark)
    from_disk = fresh.load(spark, fresh.latest("m"))
    assert _job_ids(spark) - before
    assert from_disk.regressor is not models.regressor
    assert _rows(predict(from_disk, weather)) == _rows(predict(models, weather))


def test_registry_entry_without_calendar_categories_loads(tmp_path, spark, trained):
    """meta.json written when only city/country categories were stored
    still loads and scores."""
    import json
    import os

    models, weather = trained
    reg = LocalRegistry(str(tmp_path / "old"))
    mv = reg.log("m", models, params={})
    meta = os.path.join(mv.path, "meta.json")
    with open(meta) as f:
        entry = json.load(f)
    entry["categories"] = {k: entry["categories"][k] for k in ("city", "country")}
    with open(meta, "w") as f:
        json.dump(entry, f)
    fresh = LocalRegistry(str(tmp_path / "old"))
    loaded = fresh.load(spark, fresh.latest("m"))
    assert set(loaded.categories) == {"city", "country"}
    preds = predict(loaded, weather)
    assert preds.count() == weather.count()
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0
