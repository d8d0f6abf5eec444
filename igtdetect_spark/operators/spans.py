"""Span operators: gaps-and-islands grouping, materialization, detected
text — all native window/agg expressions (SURVEY.md §2.4).

``assign_spans_df`` mirrors reference ``assign_spans`` (igtdetect.py:
906-933): a new span starts on a non-O line whose previous tag contains
'O' (or is absent) or whose own tag starts with ``B-``; ids are ``s{k}``,
1-based, dense per document; O lines get NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


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
    """Detected-IGT text per span, reference block semantics (SURVEY §2.4):
    the span's text is the concatenation of the full rendered blocks it
    touches, deduped by first occurrence. EOF quirk: the last span of a
    doc is dropped unless it is followed by an O line (no post-loop flush
    in the reference) — replicated unless ``cfg.flush_eof_span``.

    Input needs: url, line_no, block_id, text, pred, span_id (from
    ``assign_spans_df``).
    """
    w = Window.partitionBy("url")

    # full block text (all lines of the block, in order) + doc last line —
    # both computed BEFORE filtering to span lines
    wb = Window.partitionBy("url", "block_id")
    blocks = (
        lines_with_pred
        .withColumn(
            "_block_text",
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "text")).over(wb)
                    ),
                    lambda x: x["text"],
                ),
                "\n",
            ),
        )
        .withColumn("_doc_last", F.max("line_no").over(w))
    )

    span_lines = blocks.filter(F.col("span_id").isNotNull())

    spans = (
        span_lines.groupBy("url", "span_id")
        .agg(
            F.min("line_no").alias("start_line"),
            F.max("line_no").alias("end_line"),
            F.array_sort(
                F.collect_list(F.struct("line_no", "pred"))
            ).alias("_lt"),
            # (line_no, block, text) sorted → dedup keeps first-touch order
            F.array_sort(
                F.collect_list(F.struct("line_no", "block_id", "_block_text"))
            ).alias("_bt"),
            F.max("_doc_last").alias("_doc_last"),
        )
        .withColumn("tags", F.transform("_lt", lambda x: x["pred"]))
        .withColumn(
            "_bt_dedup",
            F.array_distinct(
                F.transform("_bt", lambda x: F.struct(x["block_id"], x["_block_text"]))
            ),
        )
        .withColumn(
            "block_ids", F.transform("_bt_dedup", lambda x: x["block_id"])
        )
        .withColumn(
            "text",
            F.array_join(
                F.transform("_bt_dedup", lambda x: x["_block_text"]), "\n"
            ),
        )
    )
    if not cfg.flush_eof_span:
        spans = spans.filter(F.col("end_line") < F.col("_doc_last"))
    spans = (
        spans.withColumn(
            "span_no",
            F.regexp_extract("span_id", r"s(\d+)", 1).cast("int"),
        )
        .select(
            "url", "span_no", "start_line", "end_line", "tags",
            "block_ids", "text",
        )
    )
    return spans


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
