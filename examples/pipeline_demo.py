"""End-to-end pipeline demo: the reference's full E→L→P lifecycle
(SURVEY.md §3) composed from the public package API.

  extract (synthetic source) → load (4 catalog sinks + stats) →
  feature plan → streaming snapshot/windows over the same data.

Run: python examples/pipeline_demo.py [workdir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.features import engineer_features
from weatherdatapipeline_spark.operators.stats import condition_histogram
from weatherdatapipeline_spark.session import get_spark
from weatherdatapipeline_spark.sources.catalog import TableCatalog, load_batch
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather
from weatherdatapipeline_spark.streaming.jobs import (
    run_available_now_to_memory,
    tumbling_stats,
)


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="wdp_demo_")
    spark = get_spark("pipeline-demo", cpus=8)
    cat = TableCatalog(spark, root)

    # --- E-path: extract → transform (declared schema, no network) ---
    weather = synthetic_weather(spark, n_batches=12)
    print(f"extracted {weather.count()} observations")

    # --- L-path: the four reference sinks + single-pass stats ---
    stats = load_batch(cat, weather)
    print("stats:", stats.collect()[0].asDict())
    print("conditions:", condition_histogram(weather).collect()[0]["weather_conditions"])
    print("catalog tables:", cat.list_tables())

    # --- P-path prerequisite: the feature plan ---
    feats, cols = engineer_features(cat.read("raw_weather"))
    print(f"feature matrix: {feats.count()} rows x {len(cols)} features")
    feats.select("city", "timestamp", "temp_lag_1", "temp_rollmean_3", "target_temp_next").show(
        5, truncate=False
    )

    # --- L/P-path: train → register → promote → predict (reference §3.2/3.3) ---
    from weatherdatapipeline_spark.ml.pipeline import predict, train
    from weatherdatapipeline_spark.ml.registry import LocalRegistry

    models = train(weather, n_splits=3, n_trees=10)
    print("cv metrics:", {k: round(v, 4) for k, v in models.metrics.items()})
    reg = LocalRegistry(f"{root}/registry")
    mv = reg.log("weather_models", models, params={"n_trees": 10, "n_splits": 3})
    reg.promote("weather_models", mv.version, "Production")
    prod = reg.load(spark, reg.get_stage("weather_models", "Production"))
    preds = predict(prod, weather)
    scored = preds.filter(F.col("pred_temperature").isNotNull())
    print(f"predictions: {preds.count()} rows ({scored.count()} scored)")
    cat.append_predictions(
        scored.select("city", "timestamp", "pred_temperature", "pred_condition"),
        pred_type="regression+classification",
    )
    print("predictions table rows:", cat.read("predictions").count())

    # --- streaming: windowed stats over the raw table as a file stream ---
    stream = spark.readStream.schema(cat.read("raw_weather").schema).parquet(
        cat.path("raw_weather")
    )
    windowed = tumbling_stats(
        stream.withColumn("event_time", F.timestamp_seconds("timestamp")),
        "event_time",
        "temperature",
        window="10 minutes",
    )
    run_available_now_to_memory(windowed, "demo_windows", "append")
    print("closed streaming windows:")
    spark.sql("SELECT * FROM demo_windows ORDER BY window_start").show(truncate=False)
    print("demo artifacts in", root)


if __name__ == "__main__":
    main()
