"""Scoring operators: lines → per-line predictions.

``score_lines`` is the staged operator: one shuffle groups each document
onto one worker (``groupBy(url).applyInPandas``), then the vectorized
kernel scores the whole document as numpy matmuls. The sequential greedy
decode (prev_tag models) runs in the same place — it is the one inherently
non-relational piece of the reference (SURVEY.md §2.4) and is cleanly
quarantined here.

For the flagship zero-shuffle path (pages → spans with no grouping at
all), see ``plans/pipeline.py``; for mega-documents split across tasks,
see ``plans/chunked.py``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from .schema import SCORED_SCHEMA
from .vectorized import base_feature_matrix, score_matrix

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
    want_probs: bool = False,
) -> DataFrame:
    """lines → (url, line_no, pred, probs?).

    :param model_bc: broadcast of ``ModelWeights.as_broadcastable()``.
    :param lex_bc: broadcast of ``Lexicons``.
    """
    from ..refmodel import ModelWeights

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        model = ModelWeights.from_broadcastable(model_bc.value)
        lex = lex_bc.value
        pdf = pdf.sort_values("line_no", kind="mergesort").reset_index(drop=True)
        X = base_feature_matrix(pdf, lex, cfg, model)
        labels, probs = score_matrix(X, model, cfg, want_probs=want_probs)
        out = pd.DataFrame(
            {
                "url": pdf["url"],
                "line_no": pdf["line_no"],
                "pred": labels,
            }
        )
        if want_probs and probs is not None:
            out["probs"] = [
                dict(zip(model.classes, row)) for row in probs
            ]
        else:
            out["probs"] = None
        return out

    return (
        lines.select(*_SCORE_INPUT_COLS)
        .groupBy("url")
        .applyInPandas(decode, schema=SCORED_SCHEMA)
    )

