"""ML pipeline behavior: skip gate, training, thresholding, registry,
prediction merge sink — the reference's M1-M12 contract."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.ml.pipeline import (
    predict_categories,
    stratified_split,
    train_classifier,
)
from doin_fine_ance__spark.ml.registry import (
    active_model,
    load_config,
    record_model,
    registry_metrics_view,
)
from doin_fine_ance__spark.operators.snapshot import SnapshotTable
from doin_fine_ance__spark.operators.upsert import merge_keyed
from doin_fine_ance__spark.schemas import NUMERICAL_FEATURES

CATEGORY_TEMPLATES = {
    "Groceries": ("SAFEWAY STORE {} PURCHASE grocery market", -85.0, 2),
    "Gas": ("SHELL GAS STATION {} fuel", -42.0, 1),
    "Dining out": ("STARBUCKS COFFEE SHOP {} cafe dining", -12.0, 1),
    "Flight": ("UNITED AIRLINES FLIGHT {} ticket", -650.0, 4),
    "Interest": ("INTEREST PAYMENT CREDIT {}", 2.0, 0),
}


def make_training_df(spark, rows_per_class=40):
    rows = []
    i = 0
    for cat, (tpl, amount, bucket) in CATEGORY_TEMPLATES.items():
        for j in range(rows_per_class):
            amt = amount + (j % 7)  # deterministic spread
            feats = {
                "amount": float(amt),
                "is_negative": 1 if amt < 0 else 0,
                "day_of_week": j % 7,
                "day_of_month": (j % 28) + 1,
                "amount_bucket": bucket,
            }
            kw = {k: 0 for k in NUMERICAL_FEATURES if k.startswith("has_")}
            if cat == "Groceries":
                kw["has_grocery_keyword"] = 1
                kw["has_shop_keyword"] = 1
            elif cat == "Gas":
                kw["has_gas_keyword"] = 1
            elif cat == "Dining out":
                kw["has_restaurant_keyword"] = 1
            elif cat == "Flight":
                kw["has_flight_keyword"] = 1
            elif cat == "Interest":
                kw["has_interest_keyword"] = 1
            rows.append(
                {
                    "transaction_id": f"T-{i:05d}",
                    "combined_text": tpl.format(j),
                    "master_category": cat,
                    **feats,
                    **kw,
                }
            )
            i += 1
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def trained(spark):
    df = make_training_df(spark)
    return train_classifier(
        spark, df, now=dt.datetime(2024, 3, 1, 12, 0, 0)
    )


def test_skip_gate_below_min_samples(spark):
    df = make_training_df(spark, rows_per_class=5)  # 25 < 50
    res = train_classifier(spark, df, now=dt.datetime(2024, 3, 1))
    assert res.status == "skipped"
    assert res.model is None
    assert res.metrics["reason"] == "insufficient_data"
    assert res.metrics["n_available"] == 25


def test_training_produces_usable_model(trained):
    assert trained.status == "trained"
    m = trained.metrics
    assert m["n_classes"] == 5
    assert trained.n_train + trained.n_test == 200
    # strong keyword signal → the model must actually learn
    assert m["accuracy"] >= 0.8
    assert 0 <= m["macro_f1"] <= 1
    assert set(m["calibration"]).issubset(set(CATEGORY_TEMPLATES))


def test_stratified_split_deterministic_and_proportional(spark):
    df = make_training_df(spark)
    tr1, te1, strat1 = stratified_split(df, "master_category")
    tr2, te2, _ = stratified_split(df, "master_category")
    assert strat1
    assert sorted(r.transaction_id for r in te1.collect()) == sorted(
        r.transaction_id for r in te2.collect()
    )
    per_class = {r.master_category: r["count"] for r in te1.groupBy("master_category").count().collect()}
    assert all(v == 8 for v in per_class.values())  # ceil(40*0.2) per class


def test_predict_threshold_and_contract(spark, trained):
    df = make_training_df(spark).drop("master_category")
    preds = predict_categories(
        trained.model, df, trained.model_version, confidence_threshold=0.40,
        now=dt.datetime(2024, 3, 2),
    )
    rows = preds.collect()
    assert {"predicted_master_category", "prediction_confidence", "model_version",
            "prediction_timestamp"} <= set(preds.columns)
    assert all(isinstance(r.prediction_confidence, Decimal) for r in rows)
    # near-certain threshold forces UNCERTAIN everywhere
    all_uncertain = predict_categories(
        trained.model, df, trained.model_version, confidence_threshold=1.01
    )
    assert all_uncertain.filter("predicted_master_category != 'UNCERTAIN'").count() == 0
    # zero threshold: no UNCERTAIN
    none_uncertain = predict_categories(
        trained.model, df, trained.model_version, confidence_threshold=0.0
    )
    assert none_uncertain.filter("predicted_master_category = 'UNCERTAIN'").count() == 0


def test_registry_lifecycle(spark, tmp_path):
    path = str(tmp_path / "model_registry")
    record_model(
        spark, path, "20240301_120000", "trained", dt.datetime(2024, 3, 1, 12),
        file_path="/models/v1", metrics={"accuracy": 0.9, "macro_f1": 0.88},
        n_train_samples=160, n_test_samples=40, n_classes=5,
    )
    record_model(
        spark, path, "20240302_120000", "skipped", dt.datetime(2024, 3, 2, 12),
        reason="insufficient_data", message="only 3 rows",
    )
    reg = SnapshotTable(path).read(spark)
    rows = {r.model_version: r for r in reg.collect()}
    # skipped run is latest attempt but the trained model stays active
    assert rows["20240302_120000"].is_latest and not rows["20240302_120000"].is_active
    assert rows["20240301_120000"].is_active and not rows["20240301_120000"].is_latest
    act = active_model(spark, path)
    assert act.model_version == "20240301_120000"
    # a second trained model takes over activation
    record_model(
        spark, path, "20240303_120000", "trained", dt.datetime(2024, 3, 3, 12),
        file_path="/models/v3", metrics={"accuracy": 0.95},
    )
    act2 = active_model(spark, path)
    assert act2.model_version == "20240303_120000"
    reg2 = {r.model_version: r for r in SnapshotTable(path).read(spark).collect()}
    assert not reg2["20240301_120000"].is_active
    # metrics read-back precedence: denormalized col first, JSON fallback
    mv = registry_metrics_view(SnapshotTable(path).read(spark))
    acc = {r.model_version: r.accuracy for r in mv.collect()}
    assert acc["20240301_120000"] == pytest.approx(0.9)


def test_prediction_merge_sink(spark, trained, tmp_path):
    path = str(tmp_path / "predicted_transactions")
    df = make_training_df(spark).drop("master_category").limit(30)
    p1 = predict_categories(trained.model, df, "v1", 0.4, now=dt.datetime(2024, 3, 2))
    merge_keyed(spark, path, p1.select(
        "transaction_id", "predicted_master_category", "prediction_confidence",
        "model_version", "prediction_timestamp"), "transaction_id")
    assert SnapshotTable(path).read(spark).count() == 30
    # re-predict with a newer model version: still one row per id, updated
    p2 = predict_categories(trained.model, df, "v2", 0.4, now=dt.datetime(2024, 3, 3))
    merge_keyed(spark, path, p2.select(
        "transaction_id", "predicted_master_category", "prediction_confidence",
        "model_version", "prediction_timestamp"), "transaction_id")
    final = SnapshotTable(path).read(spark)
    assert final.count() == 30
    assert final.filter("model_version = 'v2'").count() == 30


def test_load_config_fallback():
    cfg = load_config(["/nonexistent/config.yaml"])
    assert cfg["model"]["confidence_threshold"] == 0.40
