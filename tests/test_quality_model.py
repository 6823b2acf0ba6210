"""Trained quality classifier: the model must recover the seed rule on
held-out docs and score the corpus with a sane probability column."""

from __future__ import annotations

from pyspark.sql import functions as F

from medical_ocr_service_spark.plans.quality_model import (
    score_corpus,
    train_quality_classifier,
)


def test_quality_classifier_recovers_seed_rule(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model, scored_test, metrics = train_quality_classifier(df)
    # both classes must exist for the task to be non-degenerate
    assert 0 < metrics["n_positive"] < metrics["n_train"] + metrics["n_test"]
    assert metrics["n_train"] > metrics["n_test"] > 0
    # the label is a threshold rule over (a superset of) the features, so
    # a linear model must separate it nearly perfectly out of sample
    assert metrics["auc_test"] > 0.95, metrics


def test_score_corpus_probability_column(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model, _, _ = train_quality_classifier(df)
    scored = score_corpus(model, df)
    assert scored.count() == df.count()
    row = scored.agg(
        F.min("model_quality").alias("lo"), F.max("model_quality").alias("hi")
    ).collect()[0]
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0
    assert row["hi"] > row["lo"]  # scores actually vary
    # original columns survive
    assert {"doc_id", "text"} <= set(scored.columns)


def test_quality_classifier_deterministic_split(spark):
    """hash_split keying: train/test membership is a pure function of the
    doc id — rerunning the trainer sees identical splits."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _, s1, m1 = train_quality_classifier(df)
    _, s2, m2 = train_quality_classifier(df)
    assert m1["n_train"] == m2["n_train"]
    assert m1["n_test"] == m2["n_test"]
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 == ids2


def test_quality_classifier_removes_its_temp_model_dir(spark, sf_dir, tmp_path, monkeypatch):
    """Without a model_path the model round-trips through a temp dir that
    is gone once the trainer returns; an explicit model_path is kept."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train_quality_classifier(df, max_iter=5)
    assert list(tmp_path.glob("quality_lr_*")) == []

    kept = tmp_path / "model"
    train_quality_classifier(df, max_iter=5, model_path=f"file://{kept}")
    assert (kept / "metadata").is_dir()
