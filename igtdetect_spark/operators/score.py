"""Scoring operators: lines → per-line predictions.

``score_lines`` scores a ``lines`` table: one shuffle groups each document
onto one worker (``groupBy(url).applyInPandas``), and each group runs
``vectorized.label_documents`` — the same featurize-and-score kernel as
the fused and chunked paths, including the sequential greedy decode of
prev_tag models (SURVEY.md §2.4).

For pages → spans with no grouping at all, see ``plans/pipeline.py``; for
mega-documents split across tasks, see ``plans/chunked.py``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from .schema import SCORED_SCHEMA
from .vectorized import label_documents

_SCORE_INPUT_COLS = [
    "url", "line_no", "text", "page", "llx", "doc_llx_mode", "block_id",
    "prev_block_id", "next_block_id", "fonts", "def_font_id",
    "def_font_size", "iscore",
]


def score_lines(
    lines: DataFrame,
    model_bc,
    lex_bc,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """lines → (url, line_no, pred).

    :param model_bc: broadcast of ``ModelWeights.as_broadcastable()``.
    :param lex_bc: broadcast of ``Lexicons``.
    """
    from ..refmodel import ModelWeights

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        model = ModelWeights.from_broadcastable(model_bc.value)
        pdf = pdf.sort_values("line_no", kind="mergesort").reset_index(drop=True)
        labels = label_documents(
            pdf, [(pdf["url"].iat[0], 0, len(pdf))], lex_bc.value, cfg, model
        )
        return pd.DataFrame(
            {"url": pdf["url"], "line_no": pdf["line_no"], "pred": labels}
        )

    return (
        lines.select(*_SCORE_INPUT_COLS)
        .groupBy("url")
        .applyInPandas(decode, schema=SCORED_SCHEMA)
    )
