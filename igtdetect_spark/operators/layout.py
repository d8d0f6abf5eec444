"""Layout analysis for pdftotext ``-layout`` style page text: two-column
gutter detection + de-columnizing (the 1-D XY-cut step).

The reference pipeline consumes freki docs, which PDF-to-text tooling
produces from born-layout pages (north_rule: "PDF/layout parse"); the
step that tooling performs first is recovering COLUMNS from the fixed-
width character grid — a vertical whitespace run that is blank on
every line of the page is a column gutter, and reading order splits at
it. This module implements that step Spark-first, entirely with native
expressions over an exploded character-position relation:

1. explode page text into (line_no, line);
2. explode each line into (pos, ch) via ``sequence(1, length)`` — a
   position a SHORTER line never reaches is implicitly blank, so the
   per-page AND over lines is just ``sum(ch != ' ') == 0`` over the
   rows that do exist;
3. gaps-and-islands over the all-blank positions finds maximal blank
   runs; the widest STRICTLY INTERIOR run (leftmost on ties) is the
   gutter — interior-ness (start > 1, end < page width) rejects the
   left margin and the ragged right edge;
4. every line splits at the gutter: left = columns before it
   (right-trimmed), right = columns after it.

Scale shape: the two explodes are flat maps fused into the scan; then
ONE hash aggregate on (doc_id, pos), a per-page window + island
aggregate that reuse the doc_id partitioning, and one equi-join of the
per-page gutter relation (exactly one row per two-column page — page-
count-sized, NOT broadcastable at 10¹² pages) back onto the line
relation, both sides hashing once on doc_id. Character-grid volume is
page bytes — the same order as the scan itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scale import spread_small_scan


def page_lines(pages: DataFrame, text_col: str = "layout_text") -> DataFrame:
    """(doc_id, line_no, line): the page's fixed-width text exploded
    into 0-based numbered lines (flat map, no shuffle)."""
    return pages.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    )


def detect_gutters(
    lines: DataFrame, min_gap: int = 2
) -> DataFrame:
    """Per page, the widest strictly-interior vertical whitespace run:
    (doc_id, gutter_start, gutter_end, gutter_width, page_width) —
    1-based inclusive character positions; pages with no interior
    all-blank run of at least ``min_gap`` columns produce no row
    (single-column pages).
    """
    chars = lines.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("line"))).alias("pos"),
        "line",
    ).select(
        "doc_id",
        "pos",
        (F.col("line").substr(F.col("pos"), F.lit(1)) != " ")
        .cast("int").alias("nonblank"),
    )
    by_pos = chars.groupBy("doc_id", "pos").agg(
        F.sum("nonblank").alias("n_nonblank")
    )
    width = by_pos.groupBy("doc_id").agg(
        F.max("pos").alias("page_width")
    )
    blanks = by_pos.filter(F.col("n_nonblank") == 0)
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        blanks.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("gutter_start"),
            F.max("pos").alias("gutter_end"),
        )
        .drop("grp")
    )
    interior = runs.join(width, "doc_id").filter(
        (F.col("gutter_start") > 1)
        & (F.col("gutter_end") < F.col("page_width"))
        & (
            F.col("gutter_end") - F.col("gutter_start") + 1
            >= F.lit(min_gap)
        )
    )
    best = F.max(
        F.struct(
            (F.col("gutter_end") - F.col("gutter_start") + 1).alias("w"),
            (-F.col("gutter_start")).alias("neg_start"),
        )
    )
    return (
        interior.groupBy("doc_id", "page_width")
        .agg(best.alias("_b"))
        .select(
            "doc_id",
            (-F.col("_b.neg_start")).alias("gutter_start"),
            (-F.col("_b.neg_start") + F.col("_b.w") - 1)
            .alias("gutter_end"),
            F.col("_b.w").alias("gutter_width"),
            "page_width",
        )
    )


def split_columns(
    pages: DataFrame, text_col: str = "layout_text", min_gap: int = 2
) -> DataFrame:
    """De-columnize two-column layout pages: every line splits at the
    page's detected gutter into (left_text, right_text) — the reading-
    order recovery pdftotext -layout consumers perform before any
    downstream segmentation.

    Output: (doc_id, line_no, left_text, right_text, gutter_start,
    gutter_end); single-column pages (no interior gutter) are absent —
    callers keep them whole.
    """
    lines = page_lines(pages, text_col=text_col)
    gutters = detect_gutters(lines, min_gap=min_gap)
    return lines.join(gutters, "doc_id").select(
        "doc_id",
        "line_no",
        F.rtrim(
            F.col("line").substr(F.lit(1), F.col("gutter_start") - 1)
        ).alias("left_text"),
        F.col("line").substr(
            F.col("gutter_end") + 1, F.length("line")
        ).alias("right_text"),
        "gutter_start",
        "gutter_end",
    )


def synthetic_layout_pages(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, layout_text): deterministic two-column fixed-width
    pages over the driver documents — up to 8 of the document's first
    whitespace tokens become rows of ``rpad(token[:16], 20) ||
    UPPER(token[:16])`` (an IGT-like source/gloss grid), so every page
    has an all-blank interior gutter ending at column 20 whose start
    varies with the longest token. Documents with no tokens produce no
    page."""
    docs = spread_small_scan(docs, id_col)
    # The oracle spells RE2's \s, which EXCLUDES \x0b (vertical tab);
    # Java's \s includes it, so the class must be written out or the
    # two engines tokenize a \x0b-bearing document differently (found
    # by the adversarial exact-ratio mirror, round 6 — the same
    # \s-divergence WS_CLASS guards against, in the opposite
    # direction: here the FROZEN oracle has RE2 semantics, so the
    # Spark side matches RE2, not Java).
    toks = F.slice(
        F.filter(
            F.split(
                F.trim(
                    F.regexp_replace(
                        F.coalesce(F.col(text_col), F.lit("")),
                        "[ \t\n\f\r]+", " ",
                    )
                ),
                " ",
            ),
            lambda t: F.length(t) > 0,
        ),
        1,
        8,
    )
    lines = F.transform(
        toks,
        lambda t: F.concat(
            F.rpad(F.substring(t, 1, 16), 20, " "),
            F.upper(F.substring(t, 1, 16)),
        ),
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_join(lines, "\n").alias("layout_text"),
            F.size(lines).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .drop("_n")
    )
