"""Distributed training pipeline (reference `train`, SURVEY.md §3.2) —
the scale path: features as DataFrames end-to-end, chi² selection as
aggregations, Spark ML LogisticRegression on assembled sparse vectors.

For small corpora the local numpy trainer (``training.py``) is the parity
path; this pipeline exists for corpora that do not fit on the driver.
Both produce ``ModelWeights``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..refmodel import ModelWeights


def feature_label_df(
    lines_with_features: DataFrame,
    feature_col: str = "features_ctx",
) -> DataFrame:
    """(label, features array<string>) training rows; noisy rows dropped
    (reference igtdetect.py:1479-1486)."""
    return lines_with_features.select(
        F.col("norm_label").alias("label"), F.col(feature_col).alias("features")
    ).filter(~F.col("label").startswith("*"))


def chi2_topk_features(
    train_df: DataFrame,
    k: int,
) -> DataFrame:
    """chi² top-k feature selection entirely in DataFrame aggregations
    (reference SelectKBest(chi2), SURVEY §2.5): for boolean features,
    chi² = Σ_c (observed_cf − expected_cf)² / expected_cf with
    observed_cf = count of rows of class c where the feature fired,
    expected_cf = P(c) · count(feature fired).

    Returns (feature, score, rank) for the k best — deterministic
    tie-break on feature name."""
    n_total = train_df.count()
    class_counts = train_df.groupBy("label").agg(F.count("*").alias("n_c"))

    fired = train_df.select(
        "label", F.explode("features").alias("feature")
    )
    observed = fired.groupBy("feature", "label").agg(F.count("*").alias("o_cf"))
    feat_counts = fired.groupBy("feature").agg(F.count("*").alias("n_f"))

    # expected over ALL classes (including those where the feature never
    # fired: their (0 - e)²/e = e contributes Σe over non-observed classes;
    # total Σ_c e_cf = n_f, so chi² = Σ_obs (o−e)²/e + (n_f − Σ_obs e).
    joined = (
        observed.join(F.broadcast(class_counts), "label")
        .join(feat_counts, "feature")
        .withColumn("e_cf", F.col("n_c") / n_total * F.col("n_f"))
    )
    per_feature = joined.groupBy("feature", "n_f").agg(
        F.sum(
            (F.col("o_cf") - F.col("e_cf")) ** 2 / F.col("e_cf")
        ).alias("chi_obs"),
        F.sum("e_cf").alias("e_obs"),
    )
    scored = per_feature.select(
        "feature",
        (F.col("chi_obs") + (F.col("n_f") - F.col("e_obs"))).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("feature"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_spark_ml(
    spark: SparkSession,
    train_df: DataFrame,
    max_features: int = 10000,
) -> ModelWeights:
    """chi² top-k → sparse vector assembly → Spark ML one-vs-rest-style
    multinomial LogisticRegression → ModelWeights."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import StructType

    vocab_rows = chi2_topk_features(train_df, max_features).collect()
    vocab = [r["feature"] for r in sorted(vocab_rows, key=lambda r: r["rank"])]
    vocab = sorted(vocab)
    vocab_bc = spark.sparkContext.broadcast({f: i for i, f in enumerate(vocab)})
    dim = len(vocab)

    classes = sorted(
        r["label"] for r in train_df.select("label").distinct().collect()
    )
    cls_idx = {c: i for i, c in enumerate(classes)}
    cls_bc = spark.sparkContext.broadcast(cls_idx)

    # VectorUDT is not a supported pandas_udf return type; training-data
    # assembly is off the hot path, so a plain UDF building sparse vectors
    # is fine here.
    def _to_vec(fs):
        idx = vocab_bc.value
        pairs = sorted({idx[f] for f in fs if f in idx})
        return Vectors.sparse(dim, pairs, [1.0] * len(pairs))

    to_vec = F.udf(_to_vec, VectorUDT())
    to_y = F.udf(lambda l: float(cls_bc.value[l]), "double")

    ml_df = train_df.select(
        to_y(F.col("label")).alias("label"),
        to_vec(F.col("features")).alias("features"),
    )
    lr = LogisticRegression(
        regParam=1e-6, maxIter=100, family="multinomial",
        standardization=False,
    )
    model = lr.fit(ml_df)
    coef = model.coefficientMatrix.toArray()          # C × F
    intercept = np.asarray(model.interceptVector.toArray())
    return ModelWeights.from_arrays(classes, vocab, coef, intercept)
