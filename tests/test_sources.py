"""Source-surface tests: freki render sink."""

from igtdetect_spark.config import REF_SAMPLE_TEST

from conftest import needs_reference


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
