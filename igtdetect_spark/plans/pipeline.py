"""End-to-end IGT detection pipelines (reference `test` lifecycle,
SURVEY.md §3.1).

**fused** (flagship): pages → spans in ONE narrow ``mapInPandas`` stage.
Each input row is a whole document, so segmentation, features, scoring
and span assembly are document-local — zero shuffles, zero windows, zero
joins. On a 1000-executor cluster over 100 TB this is a pure scan →
scan-shaped job: throughput = executors × per-core kernel speed, no skew
interactions between documents (a mega-doc only occupies one task slot
while it lasts; AQE-balanced input splits keep slots busy). Mega-documents
split across tasks take ``plans/chunked.py``; an already-sharded ``lines``
table is scored by ``operators/score.py:score_lines`` and assembled by
``operators/spans.py:detected_span_text``, the same document kernel.

Model + lexicons travel as broadcast variables (~2 MB).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..featurespec import Lexicons
from ..refmodel import ModelWeights
from ..operators.schema import SPANS_SCHEMA
from ..operators.segment import _plain_frame, batch_to_columns
from ..operators.vectorized import label_documents, spans_from_labels


class DetectContext:
    """Broadcast bundle for the detection pipeline."""

    def __init__(self, spark: SparkSession, model: ModelWeights,
                 lex: Lexicons, cfg: PipelineConfig = DEFAULT_CONFIG):
        sc = spark.sparkContext
        self.cfg = cfg
        self.model_bc = sc.broadcast(model.as_broadcastable())
        self.lex_bc = sc.broadcast(lex)


_SPAN_COLS = [f.name for f in SPANS_SCHEMA.fields]
_CLASSIFIED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("line_no", IntegerType(), False),
    StructField("page", IntegerType(), True),
    StructField("block_id", StringType(), True),
    StructField("text", StringType(), True),
    StructField("pred", StringType(), True),
])
_CLASSIFIED_COLS = [f.name for f in _CLASSIFIED_SCHEMA.fields]


def _fused_map(pages: DataFrame, ctx: DetectContext, spans: bool) -> DataFrame:
    """The flagship kernel as one narrow ``mapInPandas`` stage: segment,
    featurize and score each Arrow batch of whole documents, then emit
    span rows (``spans``) or the line columns plus ``pred``."""
    cfg = ctx.cfg
    model_bc, lex_bc = ctx.model_bc, ctx.lex_bc
    schema = SPANS_SCHEMA if spans else _CLASSIFIED_SCHEMA
    out_cols = _SPAN_COLS if spans else _CLASSIFIED_COLS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = ModelWeights.from_broadcastable(model_bc.value)
        lex = lex_bc.value
        for pdf in batches:
            cols, slices = batch_to_columns(
                pdf["url"], pdf["html"], pdf["text"], cfg.html_main_content
            )
            if not slices:
                yield pd.DataFrame(columns=out_cols)
                continue
            lines = _plain_frame(cols)
            labels = label_documents(lines, slices, lex, cfg, model)
            if spans:
                yield pd.DataFrame(
                    spans_from_labels(
                        cols["url"], cols["line_no"], cols["block_id"],
                        cols["text"], labels, slices, cfg,
                    ),
                    columns=out_cols,
                )
            else:
                out = lines[out_cols[:-1]].copy()
                out["pred"] = labels
                yield out

    return pages.select("url", "html", "text").mapInPandas(gen, schema=schema)


def detect_spans_fused(pages: DataFrame, ctx: DetectContext) -> DataFrame:
    """pages → spans, one narrow stage (no shuffle)."""
    return _fused_map(pages, ctx, spans=True)


def classify_lines_fused(pages: DataFrame, ctx: DetectContext) -> DataFrame:
    """pages → per-line predictions (url, line_no, page, block_id, text,
    pred) in one narrow stage — the flagship classified-lines sink."""
    return _fused_map(pages, ctx, spans=False)


def detected_text_df(spans: DataFrame) -> DataFrame:
    from ..operators.spans import detected_text_per_url

    return detected_text_per_url(spans)
