"""WeatherEngine facade: the reference's endpoint surface exercised as one
lifecycle — etl → train → promote → predict → evaluate → health."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.engine import WeatherEngine
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("engine"))
    eng = WeatherEngine(
        spark, root, source=lambda s: synthetic_weather(s, n_batches=25)
    )
    return eng


def test_full_lifecycle(engine):
    out = engine.run_etl()
    assert out == {"status": "success", "records": 250, "cities_count": 10}

    trained = engine.train_models(n_splits=2, n_trees=5)
    assert trained["version"] == 1 and trained["stage"] == "Staging"
    assert "mae" in trained["metrics"]

    promoted = engine.promote(1)
    assert promoted == {"version": 1, "stage": "Production"}

    preds = engine.predict_temperature(limit=100)
    assert preds.count() == 100
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0

    wx = engine.predict_weather(limit=50)
    assert wx.count() == 50

    ev = engine.evaluate(limit=200)
    assert ev["n"] > 0 and ev["mae"] >= 0 and 0 <= ev["accuracy"] <= 1

    # persist=True writes row-level prediction-vs-actual details to the
    # predictions sink (reference /monitor/eval?persist=true)
    ev2 = engine.evaluate(limit=100, persist=True)
    eval_rows = engine.catalog.read("predictions", merge_schema=True).filter(
        F.col("pred_type") == "eval"
    )
    assert eval_rows.count() == ev2["n"]
    assert eval_rows.filter(F.col("actual_temp_next").isNotNull()).count() > 0
    assert {"pred_temperature", "actual_condition"} <= set(eval_rows.columns)

    assert "predictions" in engine.collections()
    h = engine.health()
    assert h["status"] == "healthy" and h["model_versions"] == 1


def test_predict_does_not_leak_cached_blocks(spark, engine):
    """Regression: predict paths persisted without unpersist — every call
    in a long-lived engine leaked cached blocks. After predict, the JVM
    must hold no persistent RDDs beyond what existed before."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    engine.predict_temperature(limit=20)
    engine.predict_weather(limit=20)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked cached RDDs: {after - before}"


def test_score_latest_plans_top_k(engine):
    """The latest-N scan stays a top-K: one projection for the event-time
    features above ``orderBy(...).limit(n)``, so Spark plans
    TakeOrderedAndProject, not a range sort of the whole raw table."""
    plan = engine._score_latest(100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_predict_result_does_not_rescan_raw(engine):
    """predict scores once: the returned frame reads the scored rows, so
    collecting it re-runs neither the raw_weather scan nor the models."""
    for preds in (engine.predict_temperature(limit=30), engine.predict_weather(limit=30)):
        qe = preds._jdf.queryExecution()
        assert "parquet" not in qe.optimizedPlan().toString()
        assert "raw_weather" not in qe.executedPlan().toString()
        assert preds.count() == 30


def test_run_etl_one_batch_id_per_batch(spark, tmp_path):
    """The raw log's batch_id equals the batch partition's value even when
    the clock passes a second boundary between the two writes."""
    import time

    from weatherdatapipeline_spark.sources.catalog import TableCatalog

    class SlowPartitionCatalog(TableCatalog):
        def append_batch_partition(self, *args, **kwargs):
            time.sleep(1.1)
            return super().append_batch_partition(*args, **kwargs)

    eng = WeatherEngine(spark, str(tmp_path), source=lambda s: synthetic_weather(s, n_batches=2))
    eng.catalog = SlowPartitionCatalog(spark, str(tmp_path))
    assert eng.run_etl()["records"] == 20

    def ids(table):
        return {r[0] for r in eng.table(table).select("batch_id").distinct().collect()}

    raw_ids = ids("raw_weather")
    assert len(raw_ids) == 1
    assert ids("weather_batches") == raw_ids


def test_predict_without_model_raises(spark, tmp_path_factory):
    eng = WeatherEngine(spark, str(tmp_path_factory.mktemp("cold")))
    eng.run_etl()
    with pytest.raises(RuntimeError, match="no trained model"):
        eng.predict_temperature()


def test_prepare_training_corpus(spark, sf_dir, tmp_path):
    from weatherdatapipeline_spark.pipelines import prepare_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "corpus")
    stats = prepare_training_corpus(spark, docs, out).collect()[0]
    assert 0 < stats["n_docs"] <= docs.count()
    assert 0 < stats["kept_ratio"] <= 1.0
    assert stats["n_chunks"] >= stats["n_docs"]  # every doc yields >= 1 chunk
    assert stats["n_sequences"] >= 1

    written = spark.read.parquet(out)
    assert written.count() == stats["n_chunks"]
    assert set(r["split"] for r in written.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # partition pruning is the read pattern: train-only scan reads one dir
    import os

    assert os.path.isdir(os.path.join(out, "split=train"))
