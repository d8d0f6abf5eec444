"""Span operators: gaps-and-islands span ids and span tables as native
window/agg expressions, and detected span text through the fused path's
document kernel (SURVEY.md §2.4).

``assign_spans_df`` mirrors reference ``assign_spans`` (igtdetect.py:
906-933): a new span starts on a non-O line whose previous tag contains
'O' (or is absent) or whose own tag starts with ``B-``; ids are ``s{k}``,
1-based, dense per document; O lines get NULL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from .schema import SPANS_SCHEMA
from .vectorized import spans_from_labels


def assign_spans_df(
    scored: DataFrame,
    tag_col: str = "pred",
    out_col: str = "span_id",
) -> DataFrame:
    """Add dense per-url span ids over contiguous non-O runs."""
    w = Window.partitionBy("url").orderBy("line_no")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    tag = F.col(tag_col)
    is_igt = ~tag.contains("O")  # reference: `'O' not in tags[i]`
    prev_tag = F.coalesce(F.lag(tag_col).over(w), F.lit("O"))
    new_span = is_igt & (prev_tag.contains("O") | tag.startswith("B-"))
    span_no = F.sum(new_span.cast("int")).over(wrun)
    return scored.withColumn(
        out_col,
        F.when(is_igt, F.concat(F.lit("s"), span_no.cast("string"))),
    )


def materialize_spans(
    with_span_ids: DataFrame,
    span_col: str = "span_id",
    tag_col: str = "pred",
) -> DataFrame:
    """span rows: url, span_id, start_line, end_line, n_lines, tags."""
    return (
        with_span_ids.filter(F.col(span_col).isNotNull())
        .groupBy("url", span_col)
        .agg(
            F.min("line_no").alias("start_line"),
            F.max("line_no").alias("end_line"),
            F.count("*").alias("n_lines"),
            F.array_sort(
                F.collect_list(F.struct(F.col("line_no"), F.col(tag_col).alias("t")))
            ).alias("_lt"),
        )
        .withColumn("tags", F.transform("_lt", lambda x: x["t"]))
        .drop("_lt")
    )


def detected_span_text(
    lines_with_pred: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Detected-IGT spans of a scored lines table (``SPANS_SCHEMA``): one
    shuffle groups each document onto one worker, and the fused path's
    assembler ``vectorized.spans_from_labels`` runs over it (reference
    classify_docs loop): only an O line closes a span, a span's text is
    the full blocks it touches, deduped by first occurrence, and a span
    still open at EOF is dropped unless ``cfg.flush_eof_span``.

    Input needs: url, line_no, block_id, text, pred; other columns are
    ignored.
    """
    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no", kind="mergesort")
        return pd.DataFrame(
            spans_from_labels(
                pdf["url"].to_numpy(), pdf["line_no"].to_numpy(),
                pdf["block_id"].to_numpy(), pdf["text"].to_numpy(),
                pdf["pred"].tolist(), [(pdf["url"].iat[0], 0, len(pdf))], cfg,
            ),
            columns=SPANS_SCHEMA.names,
        )

    return (
        lines_with_pred.select("url", "line_no", "block_id", "text", "pred")
        .groupBy("url")
        .applyInPandas(assemble, schema=SPANS_SCHEMA)
    )


def detected_text_per_url(spans: DataFrame) -> DataFrame:
    """Per-url concatenated detected text — the byte-parity unit."""
    return (
        spans.groupBy("url")
        .agg(
            F.array_sort(F.collect_list(F.struct("span_no", "text"))).alias("_st")
        )
        .withColumn(
            "detected_text",
            F.concat(
                F.array_join(
                    F.transform("_st", lambda x: x["text"]), "\n\n"
                ),
                F.lit("\n\n"),
            ),
        )
        .select("url", "detected_text")
    )
