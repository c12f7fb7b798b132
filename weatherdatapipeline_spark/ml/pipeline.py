"""Training pipeline — the Spark ML re-expression of the reference's
sklearn path (reference ml/training.py).

Mapping (SURVEY.md §3.2):
- sklearn RandomForestRegressor/Classifier (training.py:45, :70)
  → ``pyspark.ml`` RandomForest* (tree building distributes across
  executors; the reference got single-node ``n_jobs=-1`` at best)
- TimeSeriesSplit(5) over row order (training.py:25-26) →
  ``row_number()`` over a TOTAL order (city, timestamp, tiebreaker) +
  range filters — expanding train prefix / next-chunk validation,
  deterministic under any partitioning (SURVEY.md §7.3 hard part (c))
- metric fns (training.py:55-57, :83-85) → native evaluators/aggregates
  (MAE, RMSE, accuracy, weighted F1 — A10)
- feature-schema artifact (training.py:105,:129) → feature_cols list in
  the registry entry; inference realigns with align_features

Scale: categories are discovered once, in one job; training data flows
through ONE VectorAssembler plan, cached and filled by one count; CV folds
are row_number range filters — no per-fold shuffles or emptiness probes.
The fits are the dominant cost and, on small corpora, mostly driver and
scheduling latency: every fold's regressor and classifier fit + score and
the two final refits are independent, so ``train`` issues all of them at
once through ``session.run_concurrently`` — 2·(n_splits + 1) threads at
most, each fitting its own estimator copy (one shared estimator's param
transfer to the JVM is not thread-safe). The Spark scheduler shares the
cores among their jobs; each fit is the same as a serial fit. Inference
is one scoring pass, no key join.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.features import (
    DEFAULT_LAGS,
    DEFAULT_ROLLING,
    ONE_HOT_COLS,
    align_features,
    discover_categories,
    engineer_features,
    with_calendar,
)
from ..session import run_concurrently


def with_time_order(df: DataFrame, tiebreaker: str | None = None) -> DataFrame:
    """Impose the reference's implicit global row order (sort by city,
    timestamp — features.py:27) as an explicit total order column."""
    order = [F.col("city"), F.col("timestamp")]
    if tiebreaker:
        order.append(F.col(tiebreaker))
    w = Window.orderBy(*order)
    return df.withColumn("_row", F.row_number().over(w))


def time_series_splits(n_rows: int, n_splits: int = 5) -> list[tuple[int, int]]:
    """sklearn TimeSeriesSplit fold boundaries: expanding train prefix
    [1, train_end], validation chunk (train_end, val_end]. Returns row
    ranges (1-based, inclusive) as (train_end, val_end), leaving out the
    folds whose train or validation range holds no row of 1..n_rows."""
    fold = n_rows // (n_splits + 1)
    out = []
    for k in range(1, n_splits + 1):
        train_end = fold * k + (n_rows % (n_splits + 1))
        val_end = min(train_end + fold, n_rows)
        if train_end >= 1 and val_end > train_end:
            out.append((train_end, val_end))
    return out


@dataclass
class TrainedModels:
    regressor: object
    classifier: object
    label_indexer: object
    feature_cols: list[str]
    categories: dict[str, list]
    metrics: dict[str, float] = field(default_factory=dict)
    feature_config: dict = field(default_factory=dict)


# Adaptive feature fallback (reference training.py:29-40): small corpora
# can't afford the deep lag/rolling warm-up rows, so retry with lighter
# temporal features before giving up — (config overrides, min usable rows
# to accept this rung). The last rung always applies, subject to the hard
# min_rows floor in train().
FEATURE_FALLBACKS: list[tuple[dict, int]] = [
    ({}, 50),  # default lags [1,3] / rolling [3]
    ({"lags": [1], "rolling_windows": [2]}, 30),
    ({"lags": [1], "rolling_windows": []}, 0),
]


def _assembler(feature_cols: list[str], invalid: str = "error"):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=feature_cols, outputCol="features", handleInvalid=invalid)


def regression_metrics(scored: DataFrame, label: str, pred: str) -> dict[str, float]:
    """MAE/RMSE as single-pass aggregates (A10)."""
    row = scored.agg(
        F.avg(F.abs(F.col(label) - F.col(pred))).alias("mae"),
        F.sqrt(F.avg(F.pow(F.col(label) - F.col(pred), 2))).alias("rmse"),
    ).collect()[0]
    return {"mae": float(row["mae"]), "rmse": float(row["rmse"])}


def classification_metrics(scored: DataFrame, label: str, pred: str) -> dict[str, float]:
    """Accuracy + weighted F1 from one (label, prediction) confusion count
    (precision/recall per class, support-weighted — A10)."""
    support, predicted, tp = Counter(), Counter(), Counter()
    for y, yhat, n in scored.groupBy(label, pred).count().collect():
        support[y] += n
        predicted[yhat] += n
        if y is not None and y == yhat:
            tp[y] += n
    total = sum(support.values())
    correct = sum(tp.values())
    f1_sum = 0.0
    for y, sup in support.items():
        prec = tp[y] / predicted[y] if predicted[y] else 0.0
        rec = tp[y] / sup
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        f1_sum += f1 * sup
    return {
        "accuracy": correct / total if total else 0.0,
        "weighted_f1": f1_sum / total if total else 0.0,
    }


def train(
    weather: DataFrame,
    n_splits: int = 5,
    n_trees: int = 50,
    min_rows: int = 20,
    classifier_kind: str = "rf",
) -> TrainedModels:
    """L-path: feature plan → time-ordered CV metrics → refit on all rows
    (reference training.py:147-158 flow; hard floor of 20 rows mirrors
    training.py:95-96). Feature depth adapts to data volume via
    FEATURE_FALLBACKS (training.py:29-40); the chosen config is recorded
    on the returned bundle as ``feature_config``."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import StringIndexer
    from pyspark.ml.regression import RandomForestRegressor

    categories = discover_categories(with_calendar(weather), ONE_HOT_COLS)
    feats = feature_cols = None
    feature_config: dict = {}
    n = 0
    for overrides, accept_floor in FEATURE_FALLBACKS:
        feats, feature_cols = engineer_features(
            weather, inference=False, categories=categories, **overrides
        )
        feats = with_time_order(feats).persist()
        n = feats.count()
        feature_config = {
            "lags": overrides.get("lags", DEFAULT_LAGS),
            "rolling_windows": overrides.get("rolling_windows", DEFAULT_ROLLING),
        }
        if n >= accept_floor:
            break
        feats.unpersist()
    # big data takes the first rung after the one count train() always
    # needed; only small corpora pay the extra feature passes
    if n < min_rows:
        raise ValueError(
            f"insufficient training data: {n} rows < {min_rows} (even after "
            f"feature fallbacks; last config {feature_config})"
        )

    assembled = _assembler(feature_cols).transform(feats)
    indexer = StringIndexer(
        inputCol="target_condition", outputCol="label_idx", stringOrderType="alphabetAsc"
    ).fit(assembled)
    assembled = indexer.transform(assembled).persist()
    # fill the cache once: the concurrent fits below would race to fill it
    assembled.count()

    reg = RandomForestRegressor(
        featuresCol="features", labelCol="target_temp_next", numTrees=n_trees, seed=42
    )
    if classifier_kind == "lr":
        # the reference's LogisticRegression alternative (training.py:72-74)
        from pyspark.ml.classification import LogisticRegression

        clf = LogisticRegression(featuresCol="features", labelCol="label_idx", maxIter=50)
    else:
        clf = RandomForestClassifier(
            featuresCol="features", labelCol="label_idx", numTrees=n_trees, seed=42
        )

    def fit(est, rows: DataFrame):
        est = est.copy()
        return lambda: est.fit(rows)

    def fit_and_score(est, tr: DataFrame, va: DataFrame, metric_fn, label: str):
        est = est.copy()
        return lambda: metric_fn(est.fit(tr).transform(va), label, "prediction")

    thunks = []
    for train_end, val_end in time_series_splits(n, n_splits):
        tr = assembled.filter(F.col("_row") <= train_end)
        va = assembled.filter((F.col("_row") > train_end) & (F.col("_row") <= val_end))
        thunks.append(fit_and_score(reg, tr, va, regression_metrics, "target_temp_next"))
        thunks.append(fit_and_score(clf, tr, va, classification_metrics, "label_idx"))
    *scores, final_reg, final_clf = run_concurrently(
        weather.sparkSession, *thunks, fit(reg, assembled), fit(clf, assembled)
    )
    fold_metrics = [{**r, **c} for r, c in zip(scores[::2], scores[1::2])]

    metrics = {
        k: sum(m[k] for m in fold_metrics) / len(fold_metrics)
        for k in (fold_metrics[0] if fold_metrics else {})
    }
    metrics["n_rows"] = float(n)
    metrics["n_folds"] = float(len(fold_metrics))

    assembled.unpersist()
    feats.unpersist()
    return TrainedModels(
        regressor=final_reg,
        classifier=final_clf,
        label_indexer=indexer,
        feature_cols=feature_cols,
        categories=categories,
        metrics=metrics,
        feature_config=feature_config,
    )


def predict(models: TrainedModels, weather: DataFrame) -> DataFrame:
    """P-path: inference features (NaN rows kept) → prediction columns
    appended in one scoring pass over the same rows. The reference's
    positional concat J1 (main.py:132) disappears: ``model.transform`` adds
    columns on the same rows, so the output has exactly one row per input
    row, duplicate (city, timestamp) polls included.

    Rows whose features contain NULLs (lag/rolling warm-up) are assembled
    with ``handleInvalid="keep"`` and their predictions masked to NULL —
    kept, mirroring inference=True semantics."""
    cfg = models.feature_config or {}
    feats, _ = engineer_features(
        weather,
        inference=True,
        categories=models.categories,
        # regenerate with the TRAINED config: a fallback-trained model's
        # columns (e.g. roll_2 stats) don't exist in default-depth features
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
    # masked after element_at: Spark 4.1's codegen returns an element for a NULL index
    pred_condition = F.element_at(labels, F.col("prediction").cast("int") + 1)
    return scored.select(
        "city",
        "timestamp",
        F.when(scorable, F.col("pred_temperature")).alias("pred_temperature"),
        F.when(scorable, pred_condition).alias("pred_condition"),
    )
