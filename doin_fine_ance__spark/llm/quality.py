"""Model-based document quality scoring (FineWeb-Edu-style filtering).

Heuristic ratios (queries/llm_ops.py::t_quality_score) catch
degenerate text; modern pipelines ALSO score every document with a
cheap linear classifier trained on quality labels (human, LLM-graded,
or weak) and keep the top of the distribution. This module is that
scorer, built on Spark ML so training and scoring are distributed
JVM-side end-to-end:

  RegexTokenizer → HashingTF (binary bag-of-words, 2^18 buckets)
  → LogisticRegression

- No vocabulary fitting: HashingTF is stateless, so the SAME pipeline
  scores any corpus size without a driver-side vocab broadcast —
  the property that makes this viable at 100 TB (scoring is a
  map-only pass; training is L-BFGS over cached features).
- Labels are the caller's: pass curated labels if you have them, or
  derive weak labels (:func:`weak_labels_from_stopwords`) to bootstrap
  an English-prose-ness scorer from nothing, as the test suite does.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .corpus import word_tokens

_INTERNAL = ("_words", "_tf", "_raw", "_prob", "_pred")


def weak_labels_from_stopwords(
    docs: DataFrame, threshold: float = 0.04, text_col: str = "text"
) -> DataFrame:
    """Bootstrap weak labels: 1.0 where the stopword ratio clears a bar.

    The standard trick when no graded data exists: a noisy-but-cheap
    signal labels the extremes, the classifier generalizes from
    co-occurring vocabulary. Same stopword list as t_quality_score.
    """
    toks = word_tokens(col(text_col))
    stop = F.array(
        *[F.lit(w) for w in ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]]
    )
    ratio = F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).cast(
        "double"
    ) / F.greatest(F.size(toks), F.lit(1))
    return docs.withColumn("label", (ratio >= threshold).cast("double"))


def train_quality_classifier(
    labeled_docs: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 1 << 18,
    max_iter: int = 30,
    reg_param: float = 1e-3,
) -> PipelineModel:
    """Fit the tokenize→hash→logistic pipeline on labeled documents."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol=text_col, outputCol="_words", pattern=r"\s+", toLowercase=True
    )
    tf = HashingTF(
        inputCol="_words", outputCol="_tf", numFeatures=num_features, binary=True
    )
    lr = LogisticRegression(
        featuresCol="_tf",
        labelCol=label_col,
        rawPredictionCol="_raw",
        probabilityCol="_prob",
        predictionCol="_pred",
        maxIter=max_iter,
        regParam=reg_param,
    )
    return Pipeline(stages=[tok, tf, lr]).fit(labeled_docs)


def score_quality(
    model: PipelineModel, docs: DataFrame, out_col: str = "quality_prob"
) -> DataFrame:
    """Map-only scoring pass: adds P(quality=1) per document."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(docs)
    return scored.withColumn(
        out_col, vector_to_array("_prob").getItem(1)
    ).drop(*[c for c in _INTERNAL if c in scored.columns])


def quality_filter(
    model: PipelineModel,
    docs: DataFrame,
    min_prob: float = 0.5,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Keep documents the classifier scores above ``min_prob``."""
    return score_quality(model, docs, out_col).filter(col(out_col) >= min_prob)
