"""WeatherEngine — the reference's user-facing surface, endpoint for
endpoint, minus HTTP (FastAPI/uvicorn is an explicit non-goal,
SURVEY.md §7.4; any web framework can wrap this facade).

| Reference endpoint (main.py)      | Here                                   |
|-----------------------------------|----------------------------------------|
| GET  /run-etl-mongodb   (:70)     | ``run_etl()``                          |
| POST /train             (:115)    | ``train_models()``                     |
| GET  /predict/temp      (:124)    | ``predict_temperature(limit)``         |
| GET  /predict/weather   (:207)    | ``predict_weather(limit)``             |
| GET  /monitor/eval      (:153)    | ``evaluate(limit)``                    |
| POST /registry/promote  (:194)    | ``promote(version)``                   |
| GET  /weather-data/<c>  (:235)    | ``table(name)``                        |
| GET  /collections       (:261)    | ``collections()``                      |
| GET  /health            (:274)    | ``health()``                           |
| POST /scheduler/start   (:284)    | ``start_stream(minutes)``              |

Each method returns DataFrames / plain dicts, lazily where possible —
the caller decides when to collect (the reference eagerly materialized
at every step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ml.pipeline import predict as _predict
from .ml.pipeline import train as _train
from .ml.registry import LocalRegistry
from .sources.catalog import TableCatalog, load_batch
from .sources.synthetic import synthetic_weather

MODEL_NAME = "weather_models"


class WeatherEngine:
    def __init__(self, spark: SparkSession, root: str, source=None, registry=None):
        """``source``: callable(spark) -> DataFrame of WEATHER_RAW rows.
        Defaults to the synthetic generator; production wires
        ``sources.rest.ingest`` here (same injection seam the tests use).
        ``registry``: any object with the LocalRegistry interface; defaults
        to a LocalRegistry under ``<root>/model_registry``.
        """
        self.spark = spark
        self.catalog = TableCatalog(spark, root)
        self.registry = registry or LocalRegistry(f"{root.rstrip('/')}/model_registry")
        self.source = source or (lambda s: synthetic_weather(s, n_batches=1))

    # --- E-path --------------------------------------------------------

    def run_etl(self) -> dict:
        """Extract → four sinks + stats (reference main.py:70-112): one
        ``load_batch`` of the extracted batch, whose four writes run
        concurrently, then the summary read from the stats frame it wrote."""
        batch = self.source(self.spark).persist()
        try:
            row = load_batch(self.catalog, batch).collect()[0]
            return {
                "status": "success",
                "records": row["total_records"],
                "cities_count": row["cities_count"],
            }
        finally:
            batch.unpersist()

    # --- L-path --------------------------------------------------------

    def train_models(self, **kwargs) -> dict:
        """Train on the full raw history, log + auto-promote to Staging
        (reference main.py:115-121 → training.py:147-158)."""
        raw = self.catalog.read("raw_weather")
        models = _train(raw, **kwargs)
        mv = self.registry.log(MODEL_NAME, models, params=dict(kwargs))
        return {"version": mv.version, "stage": mv.stage, "metrics": models.metrics}

    def promote(self, version: int, stage: str = "Production") -> dict:
        mv = self.registry.promote(MODEL_NAME, version, stage)
        return {"version": mv.version, "stage": mv.stage}

    # --- P-path --------------------------------------------------------

    def _score_latest(self, limit: int) -> DataFrame:
        raw = self.catalog.read("raw_weather")
        latest = raw.orderBy(F.desc("timestamp"), F.desc("city")).limit(limit)
        mv = self.registry.get_stage(MODEL_NAME, "Production")
        if mv is None:
            raise RuntimeError("no trained model available — call train_models()")
        models = self.registry.load(self.spark, mv)
        return _predict(models, latest)

    def _predict_and_sink(self, limit: int, pred_col: str, pred_type: str) -> DataFrame:
        """Score the latest ``limit`` rows once, sink the rows that have a
        ``pred_col`` prediction, and return (city, timestamp, pred_col).

        The scored rows come to the driver in one job (``limit`` bounds
        them, and a predict endpoint returns them anyway) and become a
        local relation: the sink and the returned frame both read it, so
        neither re-runs the scan, the feature windows or the models. A
        local relation holds no executor blocks, so a long-lived engine
        accumulates no cache across predict calls."""
        preds = self.spark.createDataFrame(self._score_latest(limit).toArrow())
        self.catalog.append_predictions(
            preds.filter(F.col(pred_col).isNotNull()), pred_type=pred_type
        )
        return preds.select("city", "timestamp", pred_col)

    def predict_temperature(self, limit: int = 100) -> DataFrame:
        """Reference main.py:124-150: latest rows scored, predictions sunk."""
        return self._predict_and_sink(limit, "pred_temperature", "regression")

    def predict_weather(self, limit: int = 100) -> DataFrame:
        """Reference main.py:207: latest rows classified, predictions sunk."""
        return self._predict_and_sink(limit, "pred_condition", "classification")

    def evaluate(self, limit: int = 500, persist: bool = False) -> dict:
        """A10 monitoring metrics of Production models on recent history
        (reference main.py:153-191): next-step targets from the data
        itself, MAE/RMSE on temperature, accuracy on condition.

        ``persist=True`` additionally writes the per-row
        prediction-vs-actual details to the predictions sink tagged
        ``pred_type="eval"`` (reference /monitor/eval?persist=true,
        predict.py:182-252 evaluate_with_details)."""
        from pyspark.sql import Window

        from .operators.features import ensure_event_time

        preds = self._score_latest(limit)
        # predictions carry the coerced TimestampType key (F1); coerce the
        # raw side identically so the (city, timestamp) join keys align
        raw = ensure_event_time(self.catalog.read("raw_weather"))
        w = Window.partitionBy("city").orderBy("timestamp")
        actual = raw.select(
            "city",
            "timestamp",
            F.lead("temperature", 1).over(w).alias("actual_temp_next"),
            F.col("weather").alias("actual_condition"),
        )
        joined = preds.join(actual, ["city", "timestamp"], "inner").filter(
            F.col("pred_temperature").isNotNull()
        )
        if persist:
            joined = joined.persist()
        try:
            if persist:
                details = joined.select(
                    "city",
                    "timestamp",
                    "pred_temperature",
                    "pred_condition",
                    "actual_temp_next",
                    "actual_condition",
                )
                self.catalog.append_predictions(details, pred_type="eval")
            row = joined.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.abs(F.col("actual_temp_next") - F.col("pred_temperature"))).alias("mae"),
                F.sqrt(
                    F.avg(F.pow(F.col("actual_temp_next") - F.col("pred_temperature"), 2))
                ).alias("rmse"),
                F.avg(
                    (F.col("actual_condition") == F.col("pred_condition")).cast("double")
                ).alias("accuracy"),
            ).collect()[0]
            return {k: row[k] for k in ("n", "mae", "rmse", "accuracy")}
        finally:
            if persist:
                joined.unpersist()

    # --- data access ---------------------------------------------------

    def table(self, name: str) -> DataFrame:
        return self.catalog.read(name)

    def collections(self) -> list[str]:
        return self.catalog.list_tables()

    def health(self) -> dict:
        return {
            "status": "healthy",
            "tables": self.collections(),
            "model_versions": len(self.registry.versions(MODEL_NAME)),
        }

    # --- streaming (replaces the APScheduler cron, reference :284) -----

    def start_stream(self, source_dir: str, schema, minutes: int = 5, checkpoint=None):
        """Continuous ETL: file-stream source → the four sinks every
        ``minutes`` (ST1)."""
        from .streaming.jobs import streaming_etl

        stream = self.spark.readStream.schema(schema).parquet(source_dir)
        return streaming_etl(
            stream, self.catalog, trigger_minutes=minutes, checkpoint=checkpoint
        )
