"""Model registry — the reference's MLflow version/stage lifecycle
(reference ml/registry.py:23-46, training.py:109-135) on a local JSON +
Spark-ML-save registry.

Semantics preserved:
- every training run logs params + metrics + the feature-schema artifact
  (training.py:105: the saved feature column list IS the serving contract)
- versions are integers; "latest" = max version (registry.py:41)
- stage promotion: new best model → Staging (training.py:113-119),
  explicit promote → Production (registry.py:31-46)
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession

from ..session import run_concurrently


@dataclass
class ModelVersion:
    name: str
    version: int
    stage: str  # None | Staging | Production | Archived
    metrics: dict
    params: dict
    feature_cols: list
    categories: dict
    path: str
    # lags/rolling the model was trained with (adaptive fallback may pick
    # lighter-than-default); defaulted so pre-existing meta.json loads
    feature_config: dict = field(default_factory=dict)


class LocalRegistry:
    """Filesystem registry: ``<root>/<name>/v<N>/`` holds the Spark ML
    models + ``meta.json``. Single-writer (the training job) by design."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # version dir -> (regressor, classifier, label_indexer), TrainedModels'
        # leading fields: a version is read from disk at most once per registry
        self._models: dict[str, tuple] = {}

    def _meta_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v{version}", "meta.json")

    def versions(self, name: str) -> list[ModelVersion]:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return []
        out = []
        for d in sorted(os.listdir(base)):
            mp = os.path.join(base, d, "meta.json")
            if os.path.isfile(mp):
                with open(mp) as f:
                    out.append(ModelVersion(**json.load(f)))
        return sorted(out, key=lambda v: v.version)

    def latest(self, name: str) -> ModelVersion | None:
        vs = self.versions(name)
        return vs[-1] if vs else None

    def get_stage(self, name: str, stage: str) -> ModelVersion | None:
        """Production lookup with latest-version fallback — mirrors the
        reference's models:/<name>/Production then max-version fallback
        (predict.py:27-43)."""
        staged = [v for v in self.versions(name) if v.stage == stage]
        if staged:
            return staged[-1]
        return self.latest(name)

    def log(self, name: str, models, params: dict) -> ModelVersion:
        """Register a new version from a TrainedModels bundle. The three
        Spark ML models are saved concurrently, each into its own directory."""
        prev = self.latest(name)
        version = (prev.version + 1) if prev else 1
        vdir = os.path.join(self.root, name, f"v{version}")
        os.makedirs(vdir, exist_ok=True)
        run_concurrently(
            SparkSession.active(),
            lambda: models.regressor.write().overwrite().save(os.path.join(vdir, "regressor")),
            lambda: models.classifier.write().overwrite().save(os.path.join(vdir, "classifier")),
            lambda: models.label_indexer.write().overwrite().save(
                os.path.join(vdir, "label_indexer")
            ),
        )
        self._models[vdir] = (models.regressor, models.classifier, models.label_indexer)
        mv = ModelVersion(
            name=name,
            version=version,
            stage="Staging",  # auto-promote to Staging (training.py:113-119)
            metrics=models.metrics,
            params=params,
            feature_cols=models.feature_cols,
            categories=models.categories,
            path=vdir,
            feature_config=getattr(models, "feature_config", {}) or {},
        )
        with open(self._meta_path(name, version), "w") as f:
            json.dump(asdict(mv), f, indent=2)
        return mv

    def promote(self, name: str, version: int, stage: str = "Production") -> ModelVersion:
        """Stage transition; demotes any existing holder of the stage to
        Archived (registry.py:31-46 semantics)."""
        target = None
        for v in self.versions(name):
            if v.stage == stage and v.version != version:
                v.stage = "Archived"
                with open(self._meta_path(name, v.version), "w") as f:
                    json.dump(asdict(v), f, indent=2)
            if v.version == version:
                target = v
        if target is None:
            raise ValueError(f"no version {version} for model {name}")
        target.stage = stage
        with open(self._meta_path(name, version), "w") as f:
            json.dump(asdict(target), f, indent=2)
        return target

    def load(self, spark, mv: ModelVersion):
        """Rehydrate a TrainedModels bundle from a registry entry. The Spark
        ML models are read from disk only when neither ``log`` nor an
        earlier ``load`` of this registry holds them."""
        from pyspark.ml.classification import (
            LogisticRegressionModel,
            RandomForestClassificationModel,
        )
        from pyspark.ml.feature import StringIndexerModel
        from pyspark.ml.regression import RandomForestRegressionModel

        from .pipeline import TrainedModels

        if mv.path not in self._models:
            clf_cls = (
                LogisticRegressionModel
                if mv.params.get("classifier_kind") == "lr"
                else RandomForestClassificationModel
            )
            self._models[mv.path] = (
                RandomForestRegressionModel.load(os.path.join(mv.path, "regressor")),
                clf_cls.load(os.path.join(mv.path, "classifier")),
                StringIndexerModel.load(os.path.join(mv.path, "label_indexer")),
            )
        return TrainedModels(
            *self._models[mv.path],
            feature_cols=list(mv.feature_cols),
            categories={k: list(v) for k, v in mv.categories.items()},
            metrics=dict(mv.metrics),
            feature_config=dict(mv.feature_config),
        )
