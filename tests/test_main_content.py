"""Main-content extraction (density-based boilerplate removal) tests."""

import pytest

from igtdetect_spark.config import DEFAULT_CONFIG
from igtdetect_spark.segmentation import (
    extract_page_text,
    main_content_text,
    strip_html,
)

BOILERPLATE_PAGE = b"""
<html><head><title>t</title><style>.x{}</style></head><body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
<div class="menu"><a href="1">Products</a> | <a href="2">Pricing</a> | <a href="3">Blog</a></div>
<article>
<p>The distribution of clitics in this language is not well understood
and has been the subject of a number of studies.</p>
<p>Consider the following example from the corpus, which shows the
pattern clearly in a question-answer pair.</p>
</article>
<footer><a href="/tos">Terms</a> <a href="/priv">Privacy</a> (c) 2015</footer>
</body></html>
"""


class TestMainContent:
    def test_drops_link_farms_keeps_prose(self):
        out = main_content_text(BOILERPLATE_PAGE)
        assert "distribution of clitics" in out
        assert "question-answer pair" in out
        assert "Home" not in out
        assert "Pricing" not in out
        assert "Privacy" not in out

    def test_plain_strip_keeps_everything(self):
        out = strip_html(BOILERPLATE_PAGE)
        assert "Home" in out and "distribution of clitics" in out

    def test_extract_page_text_gate(self):
        default = extract_page_text(BOILERPLATE_PAGE, None)
        main = extract_page_text(BOILERPLATE_PAGE, None, html_main_content=True)
        assert "Home" in default and "Home" not in main

    def test_short_blocks_dropped(self):
        html = b"<p>ok</p><p>This is a long enough sentence with the usual words in it.</p>"
        out = main_content_text(html)
        assert "long enough sentence" in out
        assert "ok" not in out.split("\n\n")[0] or len(out.split("\n\n")) == 1

    def test_no_stopwords_dropped(self):
        html = (
            b"<p>alpha beta gamma delta epsilon zeta eta theta iota kappa</p>"
            b"<p>This paragraph has normal function words in the middle of it.</p>"
        )
        out = main_content_text(html)
        assert "function words" in out
        assert "alpha beta" not in out

    def test_anchor_text_survives_when_block_is_prose(self):
        html = (
            b"<p>The reference implementation is documented in "
            b'<a href="x">the original paper</a> and has been widely cited '
            b"in the literature on the subject.</p>"
        )
        out = main_content_text(html)
        assert "the original paper" in out  # low link fraction → kept

    def test_pipeline_gate(self, spark, lexicons):
        """Fused pipeline with html_main_content=True never sees nav
        lines."""
        from igtdetect_spark.flagship import get_synthetic_model
        from igtdetect_spark.plans.pipeline import (
            DetectContext,
            classify_lines_fused,
        )
        from igtdetect_spark.sources.pages import PAGES_SCHEMA

        import datetime

        pages = spark.createDataFrame(
            [("u1", datetime.datetime(2024, 1, 1), bytearray(BOILERPLATE_PAGE),
              None, "en")],
            PAGES_SCHEMA,
        )
        cfg = DEFAULT_CONFIG.with_(html_main_content=True)
        ctx = DetectContext(spark, get_synthetic_model(), lexicons, cfg)
        texts = [r["text"] for r in classify_lines_fused(pages, ctx).collect()]
        assert texts
        assert not any("Home" in t or "Privacy" in t for t in texts)
        assert any("clitics" in t for t in texts)
