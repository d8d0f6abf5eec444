"""Self-evaluation pipeline (reference selfeval_docs / testeval,
igtdetect.py:1151-1197, :1558-1561): classify documents that carry gold
tags, then score predictions against those tags — label metrics over the
(url, line_no) alignment, span metrics over predicted vs gold span tables.

This is the engine's quality-parity regression surface (BASELINE.md): run
on the reference sample freki docs with the extracted pretrained model.
``evaluate_lines`` is also the CLI ``eval`` command's evaluator.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.eval import (
    LabelMetrics,
    SpanMetrics,
    align_eval_gold,
    confusion_counts,
    label_metrics,
    render_report,
    span_metrics,
)
from ..operators.spans import assign_spans_df, materialize_spans


@dataclass
class SelfEvalResult:
    labels: LabelMetrics
    spans: SpanMetrics
    report: str
    auto_spans: "SpanMetrics | None" = None


def evaluate_lines(
    pred: DataFrame,
    gold: DataFrame,
    cfg: PipelineConfig,
    csv: bool = False,
) -> SelfEvalResult:
    """``pred`` is (url, line_no, pred); ``gold`` carries gold ``tag``
    (and ``span_id`` for gold spans).

    Two span-metric sections, mirroring the reference eval report
    (README.md:196-203): *span_id-based* gold spans = the document's own
    ids (fd.spans()); *auto-spans* = contiguous non-O gold-tag runs
    (assign_spans applied to the gold side). Predicted spans are always
    auto-assigned over contiguous non-O predictions (:1185).

    ``pred`` is cached for the call: the label counts and both span
    sections each run several actions over it, and an uncached ``pred``
    (a ``score_lines`` result) would be recomputed by every one."""
    pred = pred.cache()
    aligned = align_eval_gold(pred, gold, cfg)
    counts = confusion_counts(aligned).cache()
    lm = label_metrics(counts)

    pred_spans = materialize_spans(
        assign_spans_df(pred, tag_col="pred"), tag_col="pred"
    )
    gold_spans = (
        gold.filter(F.col("span_id").isNotNull())
        .groupBy("url", "span_id")
        .agg(
            F.min("line_no").alias("start_line"),
            F.max("line_no").alias("end_line"),
        )
    )
    sm = span_metrics(pred_spans, gold_spans)

    # auto-spans: gold side re-derived from contiguous non-O gold tags
    gold_auto = materialize_spans(
        assign_spans_df(
            gold.select("url", "line_no", F.col("tag").alias("pred")),
            tag_col="pred",
        ),
        tag_col="pred",
    )
    auto_sm = span_metrics(pred_spans, gold_auto)

    report = render_report(counts, lm, sm, auto_sm=auto_sm, csv=csv)
    counts.unpersist()
    pred.unpersist()
    return SelfEvalResult(labels=lm, spans=sm, auto_spans=auto_sm, report=report)
