"""The reusable ``deterministic_mode`` aggregate, which the
``deterministic_mode`` registry query runs. Segmentation computes the
document-level stats document-locally (segment.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def deterministic_mode(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    order_col: str,
    out_col: str = "mode_value",
) -> DataFrame:
    """Most frequent ``value_col`` per ``keys`` group; ties broken by the
    smallest ``order_col`` at which the value first occurs — the
    deterministic mirror of the reference's ``safe_mode`` first-occurrence
    tie-break (igtdetect.py:71-83). Spark's builtin ``mode()`` breaks ties
    nondeterministically, so parity requires this explicit two-stage form.
    """
    keys = list(keys)
    counted = df.groupBy(*keys, value_col).agg(
        F.count("*").alias("_cnt"),
        F.min(order_col).alias("_first_seen"),
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_cnt"), F.asc("_first_seen"), F.asc(value_col)
    )
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col(value_col).alias(out_col))
    )
