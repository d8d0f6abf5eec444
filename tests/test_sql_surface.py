"""SQL-surface tests: the engine's stages as spark.sql-queryable views."""

import pytest

from igtdetect_spark.flagship import get_synthetic_model


@pytest.fixture(scope="module")
def views(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext
    from igtdetect_spark.sources.pages import synthetic_pages
    from igtdetect_spark.sql import register_engine_views

    ctx = DetectContext(spark, get_synthetic_model(), lexicons)
    pages = synthetic_pages(spark, 20).cache()
    return register_engine_views(spark, pages, ctx, prefix="t_")


def test_sql_over_spans(spark, views):
    rows = spark.sql(
        """
        SELECT url, COUNT(*) AS n_spans,
               SUM(end_line - start_line + 1) AS n_span_lines
        FROM t_spans GROUP BY url ORDER BY n_spans DESC LIMIT 5
        """
    ).collect()
    assert rows and rows[0]["n_spans"] >= 1


def test_sql_join_lines_with_predictions(spark, views):
    rows = spark.sql(
        """
        SELECT l.url, l.line_no, l.text, c.pred
        FROM t_lines l JOIN t_classified_lines c
          ON l.url = c.url AND l.line_no = c.line_no
        WHERE c.pred = 'L' LIMIT 10
        """
    ).collect()
    assert rows
    assert all(r["pred"] == "L" for r in rows)


def test_sql_span_line_consistency(spark, views):
    """Every span's line range contains only non-O predictions at its
    member lines — cross-view SQL consistency check."""
    bad = spark.sql(
        """
        SELECT s.url, s.span_no
        FROM t_spans s JOIN t_classified_lines c
          ON s.url = c.url
         AND c.line_no BETWEEN s.start_line AND s.end_line
        WHERE c.pred = 'O'
        """
    ).count()
    assert bad == 0
