"""MLlib classification pipeline over (stacked-RBM) features.

Realizes the reference README's promised-but-unimplemented supervised
stage (/root/reference/README.md:2 "back-propagation fine tuning"; no such
code exists — SURVEY.md §2.6) as idiomatic MLlib:

    array<float> embedding --array_to_vector--> VectorUDT features
      [optional: DBN forward pass (rbm.trainer.DBN) as the featurizer]
      --> LogisticRegression / MultilayerPerceptronClassifier

Scale posture (100 TB): the only driver-side state is the model
coefficients (weight-matrix-sized); train/predict are distributed MLlib
jobs; the deterministic split is a pure narrow filter on the id column —
no sampling shuffle, reproducible on any partitioning.
"""

from __future__ import annotations

from pyspark.ml import Transformer
from pyspark.ml.classification import (
    LogisticRegression,
    MultilayerPerceptronClassifier,
)
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, functions as F


def with_features(df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "features") -> DataFrame:
    """array<float> -> MLlib dense vector (JVM-side conversion, no UDF)."""
    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def deterministic_split(df: DataFrame, id_col: str = "vec_id",
                        modulus: int = 5) -> tuple[DataFrame, DataFrame]:
    """(train, test) split on `id % modulus` — deterministic under any
    partitioning / row order, unlike randomSplit (SURVEY.md §7 hard parts:
    reproducibility policy). test fraction = 1/modulus."""
    is_test = F.col(id_col) % modulus == 0
    return df.filter(~is_test), df.filter(is_test)


def fit_logreg(train: DataFrame, label_col: str = "label",
               features_col: str = "features", max_iter: int = 50,
               reg_param: float = 0.0):
    return LogisticRegression(
        maxIter=max_iter, regParam=reg_param, featuresCol=features_col,
        labelCol=label_col, family="multinomial").fit(train)


def fit_mlp(train: DataFrame, layers: list[int], label_col: str = "label",
            features_col: str = "features", max_iter: int = 60,
            seed: int = 42):
    """MultilayerPerceptronClassifier — the actual "back-propagation fine
    tuning" the reference README names: a feed-forward net of sigmoid
    layers trained by backprop (L-BFGS)."""
    return MultilayerPerceptronClassifier(
        layers=layers, maxIter=max_iter, seed=seed,
        featuresCol=features_col, labelCol=label_col).fit(train)


class DBNFeaturizer(Transformer):
    """A fitted DBN as an MLlib Transformer, so the stacked-RBM feature
    extraction composes in a real `Pipeline` with any downstream
    estimator (`Pipeline(stages=[featurizer, LogisticRegression()])` ->
    `PipelineModel`). Wraps rbm.trainer.DBN.transform: the forward pass
    is one narrow Arrow UDF per layer (rbm.cd1.forward_prop_df), each
    reading its layer's weights from a broadcast."""

    def __init__(self, dbn, vec_col: str = "embedding",
                 out_col: str = "features"):
        super().__init__()
        self._dbn, self._vec_col, self._out_col = dbn, vec_col, out_col

    def _transform(self, df: DataFrame) -> DataFrame:
        out = self._dbn.transform(
            df.withColumn("__v", F.col(self._vec_col).cast("array<double>")),
            "__v", out_col="__dbn_act")
        return (out.withColumn(self._out_col, array_to_vector("__dbn_act"))
                .drop("__v", "__dbn_act"))


def per_label_accuracy(scored: DataFrame, label_col: str = "label",
                       pred_col: str = "prediction") -> DataFrame:
    """Per-label test accuracy: (label, n_test, n_correct, accuracy).
    One partial-aggregated groupBy over <=10 keys — shuffle carries 10 rows."""
    return (scored.groupBy(F.col(label_col).cast("int").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.sum(F.when(F.col(pred_col).cast("int")
                              == F.col(label_col).cast("int"), 1)
                       .otherwise(0)).cast("bigint").alias("n_correct"))
            .withColumn("accuracy",
                        F.round(F.col("n_correct") / F.col("n_test"), 4))
            .orderBy("label"))
