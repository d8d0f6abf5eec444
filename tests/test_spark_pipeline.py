"""Spark ↔ oracle parity: the core correctness gate (SURVEY.md §5).

Byte-identity of per-url concatenated detected span text between
- the pure-Python oracle,
- the fused zero-shuffle pipeline (pages → spans in one mapInPandas), and
- the lines-table path the CLI runs (segment → grouped scoring → join on
  (url, line_no) → grouped span assembly),
on both the synthetic corpus (trained flagship model, non-trivial spans)
and the reference freki sample docs (extracted pretrained model).
"""

import pytest

from igtdetect_spark.config import (
    DEFAULT_CONFIG,
    REF_MODEL_PATH,
    REF_SAMPLE_TEST,
    REF_SAMPLE_TRAIN,
)
from igtdetect_spark.flagship import get_lexicons, get_synthetic_model
from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
from igtdetect_spark.oracle.freki import read_freki
from igtdetect_spark.oracle.pipeline import (
    detect_spans,
    detected_text,
    extract_doc_features,
    score_doc,
)
from igtdetect_spark.refmodel import load_reference_model

from conftest import REF_LEXICON_FILES, lines_table_spans, needs_reference


N_DOCS = 30


@pytest.fixture(scope="module")
def ctx_synth(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, get_synthetic_model(), lexicons)


@pytest.fixture(scope="module")
def pages(spark):
    from igtdetect_spark.sources.pages import synthetic_pages

    return synthetic_pages(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def oracle_detected(lexicons):
    """url → detected text per the oracle, synthetic corpus + trained model."""
    model = get_synthetic_model()
    out = {}
    for d in make_corpus(N_DOCS):
        from igtdetect_spark.segmentation import extract_page_text

        content = extract_page_text(d.html, d.text)
        doc = doc_from_text(d.url, content)
        inst = extract_doc_features(doc, lexicons)
        labels, _ = score_doc(inst, model)
        txt = detected_text(detect_spans(doc, labels))
        if txt:
            out[d.url] = txt
    return out


def _collect_detected(spans_df):
    from igtdetect_spark.plans.pipeline import detected_text_df

    return {
        r["url"]: r["detected_text"] for r in detected_text_df(spans_df).collect()
    }


class TestSyntheticParity:
    def test_fused_matches_oracle(self, spark, ctx_synth, pages, oracle_detected):
        from igtdetect_spark.plans.pipeline import detect_spans_fused

        got = _collect_detected(detect_spans_fused(pages, ctx_synth))
        assert len(oracle_detected) > 10  # non-trivial
        assert got == oracle_detected

    def test_lines_table_matches_oracle(
        self, spark, ctx_synth, pages, oracle_detected
    ):
        from igtdetect_spark.operators.segment import segment_pages

        lines = segment_pages(pages, ctx_synth.cfg.html_main_content)
        got = _collect_detected(lines_table_spans(lines, ctx_synth))
        assert got == oracle_detected

    def test_chunked_matches_fused(self, spark, ctx_synth):
        """Text-space chunked skew path: bit-identical spans (incl. block
        ids and text) with forced multi-chunk documents."""
        from igtdetect_spark.plans.chunked import detect_spans_chunked
        from igtdetect_spark.plans.pipeline import detect_spans_fused
        from igtdetect_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(
            spark, 12, mega_doc_every=5, mega_doc_lines=3000
        ).cache()
        key = lambda r: tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )
        f = sorted(map(key, detect_spans_fused(pages, ctx_synth).collect()))
        c = sorted(
            map(
                key,
                detect_spans_chunked(
                    pages, ctx_synth, chunk_lines=500, mega_doc_chars=50_000
                ).collect(),
            )
        )
        assert f == c
        assert len(f) > 300

    def test_chunks_of_one_document_get_their_own_partitions(self, spark):
        """A document cut into 2 × cores chunks puts every chunk in its
        own partition; a longer one wraps evenly (⌈chunks / n⌉ each)."""
        from pyspark.sql import functions as F

        from igtdetect_spark.plans.chunked import place_chunks

        n = 2 * spark.sparkContext.defaultParallelism
        for n_chunks, per_part in ((n, 1), (2 * n + 1, 3)):
            chunks = spark.createDataFrame(
                [("https://example.org/mega", k) for k in range(n_chunks)],
                "url string, chunk_no int",
            )
            placed = place_chunks(chunks, n).select(
                "chunk_no", F.spark_partition_id().alias("p")
            ).collect()
            assert sorted(r.chunk_no for r in placed) == list(range(n_chunks))
            load: dict[int, int] = {}
            for r in placed:
                load[r.p] = load.get(r.p, 0) + 1
            assert len(load) == n and max(load.values()) == per_part

    def test_chunked_guards(self, spark, ctx_synth, lexicons):
        """Unsupported configs are refused; form-feed mega docs silently
        fall back to the fused path with identical results."""
        import dataclasses

        import pytest as _pytest

        from igtdetect_spark.plans.chunked import detect_spans_chunked
        from igtdetect_spark.plans.pipeline import (
            DetectContext,
            detect_spans_fused,
        )
        from igtdetect_spark.sources.pages import synthetic_pages

        # word_overlap → refuse (halo can't reproduce unbounded context)
        cfg_wo = dataclasses.replace(ctx_synth.cfg, word_overlap=True)
        ctx_wo = DetectContext(
            spark, get_synthetic_model(), lexicons, cfg=cfg_wo
        )
        pages = synthetic_pages(spark, 4).cache()
        with _pytest.raises(ValueError, match="word_overlap"):
            detect_spans_chunked(pages, ctx_wo)

        # a mega doc containing \f routes to the fused path: results match
        from pyspark.sql import functions as F

        mega = synthetic_pages(
            spark, 6, mega_doc_every=3, mega_doc_lines=2000
        ).withColumn(
            "text", F.concat(F.col("text"), F.lit("\fTrailing page"))
        ).cache()
        key = lambda r: tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )
        f = sorted(map(key, detect_spans_fused(mega, ctx_synth).collect()))
        c = sorted(
            map(
                key,
                detect_spans_chunked(
                    mega, ctx_synth, chunk_lines=500, mega_doc_chars=50_000
                ).collect(),
            )
        )
        assert f == c

    def test_auto_path_selection(self, spark, ctx_synth, lexicons):
        """detect_spans_auto: the cost-model gate picks fused for uniform
        corpora and chunked for straggler-dominated ones, output is
        bit-identical either way, and unsupported configs fall back to
        fused instead of raising."""
        import dataclasses

        from igtdetect_spark.plans.chunked import (
            choose_detect_path,
            detect_spans_auto,
        )
        from igtdetect_spark.plans.pipeline import (
            DetectContext,
            detect_spans_fused,
        )
        from igtdetect_spark.sources.pages import synthetic_pages

        # pure decision function (chars): uniform → fused; one dominant
        # mega doc → chunked; low cores → fused regardless
        assert choose_detect_path(4_000_000, 12_500_000, 32) == "fused"
        assert choose_detect_path(16_000_000, 16_500_000, 32) == "chunked"
        assert choose_detect_path(16_000_000, 16_500_000, 8) == "chunked"
        assert choose_detect_path(16_000_000, 16_500_000, 1) == "fused"

        pages = synthetic_pages(
            spark, 12, mega_doc_every=5, mega_doc_lines=3000
        ).cache()
        key = lambda r: tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )
        f = sorted(map(key, detect_spans_fused(pages, ctx_synth).collect()))
        # force the chunked branch via a tiny overhead constant
        a = sorted(
            map(
                key,
                detect_spans_auto(
                    pages, ctx_synth, overhead_chars=1_000
                ).collect(),
            )
        )
        assert f == a
        # word_overlap: auto silently uses fused (chunked would raise)
        cfg_wo = dataclasses.replace(ctx_synth.cfg, word_overlap=True)
        ctx_wo = DetectContext(
            spark, get_synthetic_model(), lexicons, cfg=cfg_wo
        )
        assert detect_spans_auto(
            pages, ctx_wo, overhead_chars=1_000
        ).count() == len(f)

    def test_span_schema_and_ordering(self, spark, ctx_synth, pages):
        from igtdetect_spark.plans.pipeline import detect_spans_fused

        rows = detect_spans_fused(pages, ctx_synth).collect()
        assert len(rows) > 20
        by_url = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r)
        for url, spans in by_url.items():
            spans.sort(key=lambda r: r["span_no"])
            # dense 1-based ids, ordered non-overlapping line ranges
            assert [s["span_no"] for s in spans] == list(range(1, len(spans) + 1))
            for a, b in zip(spans, spans[1:]):
                assert a["end_line"] < b["start_line"]
            for s in spans:
                assert s["start_line"] <= s["end_line"]
                assert all(t != "O" for t in s["tags"])


# Hand-built documents for span assembly over a scored lines table; a
# blank line starts a new block.
BIO_TEXT = (
    "intro line\n\nword one\nfirst gloss\n\n"
    "word two\nsecond gloss\nthird line\n\nclosing line\nlast line"
)
BIO_TAGS = ["O", "B-L", "I-G", "B-L", "I-T", "O", "O", "O"]
EOF_TEXT = "intro line\n\nword one\nfirst gloss\nline three\n\nword four\nword five"
EOF_TAGS = ["O", "L", "G", "O", "L", "T"]
SPAN_CASES = {"bio": (BIO_TEXT, BIO_TAGS), "eof": (EOF_TEXT, EOF_TAGS)}


class TestLinesTableSpanAssembly:
    """``detected_span_text`` against the oracle's ``detect_spans`` on
    given tags: only an O line closes a span (a ``B-`` tag does not), a
    span's text is the whole blocks it touches, and a span open at EOF
    is dropped unless ``flush_eof_span``."""

    @pytest.mark.parametrize("flush_eof", [False, True])
    @pytest.mark.parametrize("url", sorted(SPAN_CASES))
    def test_matches_oracle(self, spark, url, flush_eof):
        import dataclasses

        from igtdetect_spark.operators.spans import detected_span_text

        text, tags = SPAN_CASES[url]
        cfg = dataclasses.replace(DEFAULT_CONFIG, flush_eof_span=flush_eof)
        doc = doc_from_text(url, text)
        lines = list(doc.lines())
        assert len(lines) == len(tags)
        lines_df = spark.createDataFrame(
            [
                (url, ln.lineno, ln.block.block_id, ln.text, t)
                for ln, t in zip(lines, tags)
            ],
            "url string, line_no int, block_id string, text string, "
            "pred string",
        )
        got = [
            (r["span_no"], r["start_line"], r["end_line"], r["tags"],
             r["block_ids"], r["text"])
            for r in sorted(
                detected_span_text(lines_df, cfg).collect(),
                key=lambda r: r["span_no"],
            )
        ]
        want = [
            (s.span_no, s.start_line, s.end_line, s.tags, s.block_ids, s.text)
            for s in detect_spans(doc, tags, cfg)
        ]
        assert got == want
        if url == "bio":
            # one span over lines 2-5: the second B-L does not split it,
            # and block 1-3 brings its O line 6 into the text
            assert [(g[1], g[2], g[4]) for g in got] == [(2, 5, ["1-2", "1-3"])]
            assert got[0][5] == (
                "word one\nfirst gloss\nword two\nsecond gloss\nthird line"
            )
        else:
            # the span at lines 5-6 is still open at EOF
            assert [(g[1], g[2]) for g in got] == (
                [(2, 3), (5, 6)] if flush_eof else [(2, 3)]
            )


class TestFrekiSampleParity:
    """Pretrained reference model over the real sample freki docs."""

    @pytest.fixture(scope="class")
    def ctx_ref(self, spark):
        from igtdetect_spark.plans.pipeline import DetectContext

        return DetectContext(
            spark, load_reference_model(REF_MODEL_PATH), get_lexicons()
        )

    @pytest.fixture(scope="class")
    def oracle_ref(self):
        model = load_reference_model(REF_MODEL_PATH)
        lex = get_lexicons()
        out = {}
        for path in (REF_SAMPLE_TEST, REF_SAMPLE_TRAIN):
            doc = read_freki(path)
            inst = extract_doc_features(doc, lex)
            labels, _ = score_doc(inst, model)
            out[doc.doc_id] = detected_text(detect_spans(doc, labels))
        return out

    @needs_reference(
        REF_MODEL_PATH, REF_SAMPLE_TEST, REF_SAMPLE_TRAIN, *REF_LEXICON_FILES
    )
    def test_lines_table_freki_matches_oracle(self, spark, ctx_ref, oracle_ref):
        from igtdetect_spark.operators.segment import segment_freki_files
        from igtdetect_spark.plans.pipeline import detected_text_df

        lines = segment_freki_files(spark, [REF_SAMPLE_TEST, REF_SAMPLE_TRAIN])
        spans = lines_table_spans(lines, ctx_ref)
        got = {
            r["url"]: r["detected_text"]
            for r in detected_text_df(spans).collect()
        }
        want = {k: v for k, v in oracle_ref.items() if v}
        assert got == want
        # non-trivial: the sample docs yield real spans with this model
        assert sum(v.count("\n\n") for v in got.values()) >= 8
