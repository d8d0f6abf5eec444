"""Source-surface tests: DataFrame wordlist/langname dimensions vs the
set loaders, svmlight read/write round-trip, freki render sink."""

import gzip

import pytest

from igtdetect_spark.config import (
    REF_EN_WORDLIST,
    REF_GRAMS,
    REF_LANGS,
    REF_SAMPLE_TEST,
)
from igtdetect_spark.lexicons import load_gram_list, load_langnames, load_wordlist

from conftest import needs_reference


class TestWordlistSources:
    @needs_reference(REF_EN_WORDLIST)
    def test_wordlist_df_matches_set(self, spark):
        from igtdetect_spark.sources.wordlists import wordlist_df

        got = {r["word"] for r in wordlist_df(spark, REF_EN_WORDLIST).collect()}
        assert got == set(load_wordlist(REF_EN_WORDLIST))
        assert len(got) == 109_582

    @needs_reference(REF_GRAMS)
    def test_gram_df_matches_set(self, spark):
        from igtdetect_spark.sources.wordlists import gram_list_df

        got = {r["gram"] for r in gram_list_df(spark, REF_GRAMS).collect()}
        assert got == set(load_gram_list(REF_GRAMS))

    @needs_reference(REF_LANGS)
    def test_langnames_df_matches_set(self, spark):
        from igtdetect_spark.sources.wordlists import langnames_df

        got = {r["name"] for r in langnames_df(spark, REF_LANGS).collect()}
        want = set(load_langnames(REF_LANGS))
        assert got == want
        assert len(got) > 30_000

    @needs_reference(REF_LANGS)
    def test_has_langname_join(self, spark):
        from igtdetect_spark.sources.wordlists import (
            has_langname_join,
            langnames_df,
        )

        lines = spark.createDataFrame(
            [("u", 1, "the russian example"), ("u", 2, "xx yy zz")],
            "url string, line_no int, text string",
        )
        out = {
            r["line_no"]: r["has_langname"]
            for r in has_langname_join(lines, langnames_df(spark, REF_LANGS)).collect()
        }
        assert out == {1: True, 2: False}


class TestSvmlight:
    def test_round_trip(self, spark, tmp_path):
        from igtdetect_spark.sources.svmlight import (
            read_svmlight,
            write_svmlight_local,
        )

        rows = [
            ("O", ["word_a", "word_b"]),
            ("B-L", ["has_grams", "word_x"]),
            ("I-G", []),
        ]
        p = str(tmp_path / "feats.txt.gz")
        write_svmlight_local(rows, p, gzip=True)
        with gzip.open(p, "rt") as f:
            assert f.readline().rstrip("\n") == "O\tword_a:1\tword_b:1"
        got = read_svmlight(spark, p).orderBy("line_no").collect()
        assert [(r["label"], list(r["features"])) for r in got] == rows


class TestRenderSink:
    @needs_reference(REF_SAMPLE_TEST)
    def test_render_freki_df_round_trip(self, spark):
        """Spark grouped-map renderer → parse → same lines as source."""
        from igtdetect_spark.operators.segment import (
            render_freki_df,
            segment_freki_files,
        )
        from igtdetect_spark.oracle.freki import parse_freki

        lines = segment_freki_files(spark, [REF_SAMPLE_TEST])
        out = render_freki_df(lines).collect()
        assert len(out) == 1
        doc = parse_freki(out[0]["freki_text"])
        assert len(doc) == 268
        ln13 = doc.get_line(13)
        assert ln13.tag == "L" and ln13.span_id == "s0"
        assert ln13.lang_name == "Northern Talyshi"
