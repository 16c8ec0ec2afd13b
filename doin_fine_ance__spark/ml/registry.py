"""Model registry lifecycle (M8-M10) + config fallback chain.

Parquet-backed twin of analytics.model_registry
(ui/backend/init_db.py:199-224; lifecycle classifier_train.py:352-427;
lookup classifier_predict.py:33-84):

- recording a TRAINED model unsets previous is_latest AND is_active,
  then inserts with both flags true;
- recording a SKIPPED run unsets only is_latest (skipped runs are the
  latest *attempt* but never active);
- active-model lookup: is_active & trained → newest trained with a
  file_path → None (the reference's third fallback is a legacy pickle
  path, meaningless here).

The registry is a snapshot table; a record reads the current version
and commits the flipped-and-extended one under the table lock, so two
concurrent records both land: the second waits for the lock (up to
10 s, then raises ``ConcurrentWriteError``) and its base includes the
first.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..operators.snapshot import SnapshotTable
from ..schemas import DEFAULT_CONFIDENCE_THRESHOLD, MODEL_REGISTRY
from ..session import local_frame


def load_config(config_paths: list[str] | None = None) -> dict:
    """config.yaml fallback chain (dagster/common.py:64-87)."""
    paths = config_paths or ["config.yaml"]
    found = next((p for p in paths if os.path.exists(p)), None)
    if found is None:
        return {"model": {"confidence_threshold": DEFAULT_CONFIDENCE_THRESHOLD}}
    try:
        import yaml  # type: ignore

        with open(found) as f:
            config = yaml.safe_load(f) or {}
    except ImportError:
        config = {}
    config.setdefault("model", {})
    config["model"].setdefault("confidence_threshold", DEFAULT_CONFIDENCE_THRESHOLD)
    return config


def _dec(v) -> Decimal | None:
    return None if v is None else Decimal(str(round(float(v), 6)))


def record_model(
    spark: SparkSession,
    registry_path: str,
    model_version: str,
    status: str,
    training_timestamp: dt.datetime,
    file_path: str | None = None,
    metrics: dict | None = None,
    n_train_samples: int | None = None,
    n_test_samples: int | None = None,
    n_features: int | None = None,
    n_classes: int | None = None,
    reason: str | None = None,
    message: str | None = None,
) -> None:
    """Flip flags + insert one registry row (classifier_train.py:352-427)."""
    metrics = metrics or {}
    row = Row(
        model_version=model_version,
        training_timestamp=training_timestamp,
        file_path=file_path,
        metrics=json.dumps(metrics, default=str),
        status=status,
        is_active=status == "trained",
        is_latest=True,
        n_train_samples=n_train_samples,
        n_test_samples=n_test_samples,
        n_features=n_features,
        n_classes=n_classes,
        accuracy=_dec(metrics.get("accuracy")),
        macro_f1=_dec(metrics.get("macro_f1")),
        weighted_f1=_dec(metrics.get("weighted_f1")),
        macro_precision=_dec(metrics.get("macro_precision")),
        macro_recall=_dec(metrics.get("macro_recall")),
        reason=reason,
        message=message,
    )
    new_row = local_frame(spark, [row], MODEL_REGISTRY)

    def recorded(current: DataFrame | None) -> DataFrame:
        if current is None:
            return new_row
        current = current.withColumn("is_latest", lit(False))
        if status == "trained":
            # a newly trained model takes over activation
            current = current.withColumn("is_active", lit(False))
        return current.unionByName(new_row)

    SnapshotTable(registry_path).commit_rewrite(spark, recorded, timeout=10.0)


def active_model(spark: SparkSession, registry_path: str) -> Row | None:
    """Active-model lookup with fallback (classifier_predict.py:33-60)."""
    table = SnapshotTable(registry_path)
    if not table.exists():
        return None
    reg = table.read(spark)
    active = (
        reg.filter((col("is_active") == True) & (col("status") == "trained"))  # noqa: E712
        .orderBy(col("training_timestamp").desc())
        .limit(1)
        .collect()
    )
    if active:
        return active[0]
    fallback = (
        reg.filter((col("status") == "trained") & col("file_path").isNotNull())
        .orderBy(col("training_timestamp").desc())
        .limit(1)
        .collect()
    )
    return fallback[0] if fallback else None


def registry_metrics_view(registry: DataFrame) -> DataFrame:
    """Read-back precedence (model_metrics.py:99-118): denormalized
    column first, JSON fallback second."""
    js = F.from_json(
        col("metrics"),
        "struct<accuracy:double, macro_f1:double, weighted_f1:double>",
    )
    return registry.select(
        "model_version",
        "training_timestamp",
        "status",
        "is_active",
        "is_latest",
        F.coalesce(col("accuracy").cast("double"), js["accuracy"]).alias("accuracy"),
        F.coalesce(col("macro_f1").cast("double"), js["macro_f1"]).alias("macro_f1"),
        F.coalesce(col("weighted_f1").cast("double"), js["weighted_f1"]).alias(
            "weighted_f1"
        ),
    )
