"""Shared DataFrame schemas (SURVEY.md §1.2 Spark mapping)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

FONT_TYPE = StructType(
    [
        StructField("font_id", StringType(), True),
        StructField("size", DoubleType(), True),
    ]
)

# One row per line; doc-local context (prev/next block ids) and doc-level
# stats (llx mode, default font) are denormalized onto the line during
# segmentation/parse — the whole document is in hand there, so no
# shuffle/window is needed to obtain them (zero-shuffle feature stage).
LINES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("line_no", IntegerType(), False),
        StructField("page", IntegerType(), True),
        StructField("block_id", StringType(), True),
        StructField("llx", DoubleType(), True),
        StructField("line_llx", DoubleType(), True),
        StructField("text", StringType(), True),
        StructField("fonts", ArrayType(FONT_TYPE), True),
        StructField("tag", StringType(), True),
        StructField("span_id", StringType(), True),
        StructField("lang_name", StringType(), True),
        StructField("lang_code", StringType(), True),
        StructField("iscore", DoubleType(), True),
        StructField("attrs", MapType(StringType(), StringType()), True),
        StructField("prev_block_id", StringType(), True),
        StructField("next_block_id", StringType(), True),
        StructField("doc_llx_mode", DoubleType(), True),
        StructField("def_font_id", StringType(), True),
        StructField("def_font_size", DoubleType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("line_no", IntegerType(), False),
        StructField("label", StringType(), True),
        StructField("features", ArrayType(StringType()), True),
    ]
)

SCORED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("line_no", IntegerType(), False),
        StructField("pred", StringType(), True),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("span_no", IntegerType(), False),
        StructField("start_line", IntegerType(), True),
        StructField("end_line", IntegerType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("block_ids", ArrayType(StringType()), True),
        StructField("text", StringType(), True),
    ]
)
