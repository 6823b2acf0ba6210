"""Trained quality classifier for corpus scoring — the FineWeb-Edu / DCLM
pattern: a cheap model learns to reproduce (and generalize) a seed quality
signal, then scores the whole corpus so the mix can be thresholded or
temperature-sampled by model score instead of hand rules.

Here the seed labels are weak supervision from the repo's own heuristic
signals (quality_score + repetition_features): a doc is a positive
example when its blended heuristic quality clears `seed_threshold`
(optionally AND its repetition pathology stays under
`max_dup_word_fraction` — off by default: the hard conjunction corner is
not linearly separable and the funnel's repetition gate already handles
it). The model
is Spark MLlib logistic regression over the SAME signal columns plus
length features — so the test can check the model actually recovers the
seed rule on held-out docs (AUC), and a production run would swap the
seed labels for curated human/LLM annotations without touching the
pipeline shape.

Scale shape: feature assembly is the narrow per-row projections the
signal operators already are (no shuffle); LBFGS training is MLlib's
treeAggregate gradient loop — per-iteration traffic is one gradient
vector per partition (d+1 doubles), independent of corpus size; scoring
is one more narrow projection. Train/test split is the deterministic
hash_split (no randomSplit — resumable, leak-free across reruns).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.datasets import hash_split
from ..operators.text_analysis import quality_score, repetition_features

FEATURES = [
    "quality",
    "punct_ratio",
    "stopword_ratio",
    "dup_word_fraction",
    "dup_bigram_fraction",
    "symbol_word_ratio",
    "log_tokens",
]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Assemble the classifier's feature columns (pure projections).

    Empty/degenerate docs produce NULL/NaN ratio features (0/0 in the
    repetition fractions); a NaN inside an MLlib feature vector silently
    poisons LBFGS, so every feature is imputed to 0 here — the value the
    ratios take in the 'nothing there' limit."""
    out = repetition_features(quality_score(df, text_col), text_col)
    out = out.withColumn(
        "log_tokens", F.log1p(F.col("n_tokens").cast("double"))
    )
    for c in FEATURES:
        out = out.withColumn(
            c, F.coalesce(F.nanvl(F.col(c), F.lit(0.0)), F.lit(0.0))
        )
    return out


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed_threshold: float = 0.5,
    max_dup_word_fraction: float | None = None,
    train_fraction: float = 0.8,
    max_iter: int = 30,
    model_path: str | None = None,
):
    """Returns (model, scored_test, metrics) where metrics carries the
    held-out AUC and split sizes. The label is the weak-supervision seed
    rule; `model` is a pyspark.ml PipelineModel-compatible
    LogisticRegressionModel usable via `score_corpus`.

    The model is saved to `model_path` and reloaded from it. Without one it
    goes to a ``file://`` temp dir, removed after the reload; that default
    only works under a local master, so a cluster run passes a shared
    path."""
    from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    feats = quality_features(df, text_col)
    seed = F.col("quality") >= seed_threshold
    if max_dup_word_fraction is not None:
        seed = seed & (F.col("dup_word_fraction") <= max_dup_word_fraction)
    labeled = feats.withColumn("label", seed.cast("double"))
    keyed = labeled.withColumn("_k", F.col(id_col).cast("string"))
    split = hash_split(
        keyed, "_k", {"train": train_fraction, "test": 1.0 - train_fraction}
    )
    assembler = VectorAssembler(
        inputCols=FEATURES, outputCol="features", handleInvalid="keep"
    )
    train = assembler.transform(split.filter(F.col("split") == "train"))
    test = assembler.transform(split.filter(F.col("split") == "test"))

    lr = LogisticRegression(
        maxIter=max_iter, regParam=0.01, standardization=True
    )
    model = lr.fit(train)
    # Persist + reload the trained artifact before serving. Not just
    # hygiene: the freshly-fit model carries its trainingSummary, which
    # references the SparkSession (whose ObservationManager is not
    # serializable) — transform() then ships the model to executors and
    # dies with Task-not-serializable whenever the session has live
    # observation state. The reloaded model is summary-free, and a real
    # deployment persists the artifact anyway.
    tmp = None if model_path else tempfile.mkdtemp(prefix="quality_lr_")
    try:
        path = model_path or f"file://{tmp}"
        model.write().overwrite().save(path)
        model = LogisticRegressionModel.load(path)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    scored_test = model.transform(test)
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction"
    ).evaluate(scored_test)
    sizes = split.agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
        F.count(F.when(F.col("label") == 1.0, 1)).alias("n_positive"),
    ).first()
    metrics = {"auc_test": float(auc), **sizes.asDict()}
    return model, scored_test, metrics


def score_corpus(
    model, df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Score every document with the trained model: adds `model_quality`
    (P(positive)) — one narrow projection over the corpus, no shuffle."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    assembler = VectorAssembler(
        inputCols=FEATURES, outputCol="features", handleInvalid="keep"
    )
    feats = assembler.transform(quality_features(df, text_col))
    scored = model.transform(feats)
    return scored.withColumn(
        "model_quality",
        F.round(vector_to_array(F.col("probability"))[1], 6),
    ).drop("features", "rawPrediction", "probability", "prediction")
