"""Feature-extraction operators over the ``lines`` DataFrame.

Two shapes:

- ``with_features``: adds ``features ARRAY<STRING>`` of fired base-feature
  names (sorted — svmlight invariant). ``mapInPandas`` over line batches;
  needs no document context beyond the denormalized adjacency columns, so
  it is shuffle-free regardless of how lines are partitioned.
- ``widen_context_df``: window lag/lead widening to the full prefixed
  feature arrays (``prev_``/``prev_prev_``/``next_`` copies +
  ``prev_tag_*``) — the svmlight checkpoint/training representation
  (reference get_all_line_feats / write_instances). One shuffle on url.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from .vectorized import fired_name_lists

_FEATURE_INPUT_COLS = [
    "text", "page", "llx", "doc_llx_mode", "block_id", "prev_block_id",
    "next_block_id", "fonts", "def_font_id", "def_font_size", "iscore",
]


def with_features(
    lines: DataFrame,
    lex_bc,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """lines → lines + ``features ARRAY<STRING>`` (fired, sorted).

    :param lex_bc: ``sc.broadcast(Lexicons)`` handle.

    NB: when ``cfg.word_overlap`` is on (off by default), the overlap
    features need the previous line of the same document — input batches
    must then be document-contiguous in line order (true for
    ``segment_pages``/``segment_freki_files`` output; use the grouped
    scoring path for arbitrarily sharded tables).
    """
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    # NB: StructType.add mutates in place — build a fresh copy
    schema = StructType(
        list(lines.schema.fields)
        + [StructField("features", ArrayType(StringType()), True)]
    )
    out_cols = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = lex_bc.value
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = fired_name_lists(pdf, lex, cfg)
            yield pdf[out_cols]

    return lines.mapInPandas(gen, schema=schema)


def widen_context_df(
    features_df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Add context-prefixed copies of neighbor features + the training
    ``prev_tag_<basic(prev tag)>`` feature, entirely with window functions
    (SURVEY.md §2.4). Output column ``features_ctx`` keeps the sorted
    invariant. NB: widening is by line number (blank-line gaps in freki
    numbering behave like the reference's dict lookups) — a guard drops
    neighbor features when line numbers aren't consecutive.
    """
    w = Window.partitionBy("url").orderBy("line_no")

    def shifted(colexpr, off, prefix):
        neighbor = F.lag(colexpr, off).over(w) if off > 0 else F.lead(colexpr, -off).over(w)
        neighbor_no = (
            F.lag("line_no", off).over(w) if off > 0 else F.lead("line_no", -off).over(w)
        )
        aligned = F.when(
            neighbor_no == F.col("line_no") - F.lit(off), neighbor
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.coalesce(aligned, F.array().cast("array<string>")),
            lambda x: F.concat(F.lit(prefix), x),
        )

    parts = [F.col("features")]
    if cfg.use_prev_prev_line:
        parts.append(shifted(F.col("features"), 2, "prev_prev_"))
    if cfg.use_prev_line:
        parts.append(shifted(F.col("features"), 1, "prev_"))
    if cfg.use_next_line:
        parts.append(shifted(F.col("features"), -1, "next_"))

    out = features_df.withColumn("features_ctx", F.array_sort(F.concat(*parts)))

    if cfg.prev_tag:
        # training-time prev_tag uses the BI-rewritten previous tag
        # (write_instances :509-514); 'O' for the document's first line
        prev_tag = F.coalesce(F.lag("bi_tag").over(w), F.lit("O"))
        from ..functions.labels import basic_label_col

        out = out.withColumn(
            "features_ctx",
            F.array_sort(
                F.concat(
                    F.col("features_ctx"),
                    F.array(F.concat(F.lit("prev_tag_"), basic_label_col(prev_tag))),
                )
            ),
        )
    return out


def bi_rewrite_tags(lines: DataFrame) -> DataFrame:
    """Training-label BI rewrite as a window expression (reference
    write_instances :479-504): non-O lines get ``I-`` when the previous
    line shares their span_id, else ``B-``; the noisy ``*`` is re-applied.
    Adds column ``bi_tag``."""
    w = Window.partitionBy("url").orderBy("line_no")
    stripped = F.regexp_replace("tag", r"\*", "")
    noisy = F.col("tag").startswith("*")
    prev_span = F.lag("span_id").over(w)
    is_igt = ~stripped.contains("O")
    bi = F.when(
        F.col("span_id").isNotNull()
        & prev_span.isNotNull()
        & (F.col("span_id") == prev_span),
        F.lit("I"),
    ).otherwise(F.lit("B"))
    rewritten = F.concat(bi, F.lit("-"), stripped)
    rewritten = F.when(noisy, F.concat(F.lit("*"), rewritten)).otherwise(rewritten)
    # non-IGT lines keep the '*'-stripped label (the reference strips '*'
    # before the rewrite and only re-applies it on the rewritten form)
    return lines.withColumn(
        "bi_tag", F.when(is_igt, rewritten).otherwise(stripped)
    )


def render_svmlight_df(widened: DataFrame) -> DataFrame:
    """``url, line_no, svmlight STRING`` — byte-parity rendering of the
    feature checkpoint (LABEL\\tfeat:1\\t… with only-true sorted feats)."""
    return widened.select(
        "url",
        "line_no",
        F.concat_ws(
            "\t",
            F.col("bi_tag"),
            F.concat_ws(
                "\t",
                F.transform("features_ctx", lambda x: F.concat(x, F.lit(":1"))),
            ),
        ).alias("svmlight"),
    )
