"""Model-based quality filtering: a distributed logistic-regression
classifier over hashed token features — the FineWeb-Edu / fastText-style
learned filter that complements the heuristic sets (Gopher, C4) and the
importance-weighting path (DSIR).

Built on Spark MLlib (HashingTF + LogisticRegression), which is the
idiomatic scale path: feature hashing is a stateless map (no vocabulary
shuffle), and LBFGS training aggregates gradients tree-wise per
partition — both designed for the 1000-executor case. Scoring is a
broadcast of the (num_features)-long coefficient vector into a map-only
stage.

Weak-label bootstrap: when no labeled set exists (the usual corpus
situation), training targets come from the Gopher keep verdict —
self-training a cheap linear model to imitate (and then generalize past
hard thresholds of) the heuristics, the same bootstrapping recipe the
published web-corpus classifiers use (GPT-3's WebText-vs-CommonCrawl
LR filter, Brown et al. 2020 §A; FineWeb-Edu's LLM-labeled regressor).

Reference parity note: the Delphi reference (liyc1968/Delphi-PDF-Parser)
has no corpus operators; this row belongs to SURVEY.md §2's LLM-ops
inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import words


def _featurize(documents: DataFrame, num_features: int):
    from pyspark.ml.feature import HashingTF

    toks = documents.withColumn(
        "_toks", words(F.col("text"))
    )
    tf = HashingTF(
        inputCol="_toks", outputCol="features", numFeatures=num_features
    )
    return tf.transform(toks)


def train_quality_classifier(
    documents: DataFrame,
    labels: DataFrame | None = None,
    num_features: int = 4096,
    max_iter: int = 25,
    reg_param: float = 0.01,
):
    """Train the filter; returns a fitted LogisticRegressionModel.

    `labels` is an optional (doc_id, label double) frame; without it,
    weak labels come from a MEDIAN SPLIT of the heuristic quality
    score (label 1 = above-median) — two classes by construction on
    any corpus with score spread, where a hard-threshold verdict like
    Gopher's keep can be single-class on a homogeneous corpus. The one
    driver-side value is the median scalar. Training data must still
    contain both classes — a constant-score corpus raises ValueError
    loudly rather than fitting a degenerate model.
    """
    from pyspark.ml.classification import LogisticRegression

    if labels is None:
        from .textstats import quality_score

        qs = quality_score(documents)
        med = qs.agg(
            F.expr("percentile_approx(quality, 0.5)")
        ).first()[0]
        if med is None:
            raise ValueError(
                "quality classifier weak-label bootstrap needs a "
                "non-empty corpus with quality scores"
            )
        labels = qs.select(
            "doc_id",
            (F.col("quality") > F.lit(float(med)))
            .cast("double")
            .alias("label"),
        )
    train = _featurize(documents, num_features).join(
        labels, "doc_id"
    ).select("doc_id", "features", "label")
    counts = train.agg(
        F.sum((F.col("label") > 0).cast("int")).alias("pos"),
        F.sum(F.col("label").isNull().cast("int")).alias("nulls"),
        F.count("*").alias("n"),
    ).first()
    if counts["nulls"]:
        # a null label would fail deep inside LBFGS with an opaque
        # error — and must not count as the negative class
        raise ValueError(
            f"quality classifier labels contain {counts['nulls']} nulls"
        )
    if not counts["n"] or not counts["pos"] or counts["pos"] == counts["n"]:
        raise ValueError(
            "quality classifier needs both classes in the weak labels"
        )
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        featuresCol="features",
        labelCol="label",
    )
    return lr.fit(train)


def score_quality(
    documents: DataFrame, model, num_features: int = 4096
) -> DataFrame:
    """Score documents under a trained model: (doc_id, quality_prob,
    keep). The coefficient vector broadcasts; scoring is map-only."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_featurize(documents, num_features))
    return scored.select(
        "doc_id",
        F.round(
            vector_to_array("probability")[1], 4
        ).alias("quality_prob"),
        F.col("prediction").cast("int").alias("keep"),
    ).orderBy("doc_id")


def quality_classifier(
    documents: DataFrame, num_features: int = 4096
) -> DataFrame:
    """Train-on-weak-labels + score, the one-call pipeline form used by
    the driver query. Rows-only correctness (LBFGS training is not
    SQL-expressible); the classifier's learning behavior is pinned by
    unit tests on separable synthetic classes."""
    model = train_quality_classifier(documents, num_features=num_features)
    return score_quality(documents, model, num_features=num_features)
