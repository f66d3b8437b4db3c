"""Weighted logistic-regression training surface (SURVEY §2.8 M5–M7,
M9–M10; `lr.scala`).
"""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import confusion_matrix


def with_class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """M9/U2 (`lr.scala:11-31`): balance classes by weighting label=0
    rows with r = positives/total and label=1 rows with 1−r. The
    reference wraps this in a UDF (`calculateWeights`); it is a pure
    column expression — no Python. The reference issues two jobs for
    the ratio (`lr.scala:14-16` count + filtered count); one
    `agg(count, sum)` pass computes both in a single scan."""
    row = df.agg(
        F.count(F.lit(1)).alias("__total"),
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("__pos"),
    ).first()
    total, positives = row["__total"], row["__pos"] or 0
    r = positives / total if total else 0.0
    return df.withColumn(
        "class_weight",
        F.when(F.col(label_col) == 0, F.lit(r)).otherwise(F.lit(1.0 - r)),
    )


def train_weighted_lr(
    df: DataFrame,
    features_col: str = "tfidf",
    label_col: str = "label",
    elastic_net: float = 0.5,
    reg: float = 0.03,
    threshold: float = 0.68,
    seed: int = 42,
):
    """M5+M7 (`lr.scala:32-44`): 80/20 split (seed 42), elastic-net
    weighted LR with the reference's hyperparameters. Returns
    (model, train_df, test_df).

    ``df`` is materialized ONCE, as an eager local checkpoint: the
    class-weight ratio, the split, every L-BFGS iteration, and later
    scoring of ``test`` (``evaluate_auc``, ``confusion``) read those
    blocks instead of re-running ``df``'s lineage (for the paper's
    input: scan, label join, tokenizer, CountVectorizer, IDF). The
    fixed partition layout also makes ``train`` and ``test`` exact
    complements of ``df``: ``randomSplit`` samples each partition by
    its index, so a lineage with a shuffle, evaluated once persisted
    (for the fit) and once under AQE coalescing (for the test), would
    split two different layouts.

    ``model``, ``train`` and ``test`` share ownership of the blocks
    (``own_local_checkpoint``): they are released once all three are
    unreachable. ``model.summary`` reads ``train`` lazily, so the model
    is an owner too. ``train`` is persisted only during the fit
    (``fit_released``)."""
    from ..operators.util import fit_released, own_local_checkpoint

    data = df.localCheckpoint(eager=True)
    train, test = with_class_weights(data, label_col).randomSplit(
        [0.8, 0.2], seed=seed
    )
    lr = LogisticRegression(
        featuresCol=features_col,
        labelCol=label_col,
        weightCol="class_weight",
        elasticNetParam=elastic_net,
        regParam=reg,
        threshold=threshold,
    )
    model = fit_released(lr, train)
    own_local_checkpoint(model, data, train, test)
    return model, train, test


def evaluate_auc(model: LogisticRegressionModel, test: DataFrame, label_col: str = "label") -> float:
    """M6 (`lr.scala:46-48`): AUC-ROC."""
    scored = model.transform(test)
    return BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction"
    ).evaluate(scored)


def confusion(model: LogisticRegressionModel, test: DataFrame, label_col: str = "label") -> DataFrame:
    """M10: the reference's 4 filtered counts (`lr.scala:50-54`) as ONE
    groupBy — a single shuffle instead of four jobs."""
    return confusion_matrix(model.transform(test), label_col, "prediction")
