"""Oracle foundation tests: freki parsing, feature semantics (incl. the
reference's parity quirks), label grammar, model extraction, decode, spans.

These pin the executable specification that the Spark engine is compared
against (SURVEY.md §5).
"""

import numpy as np
import pytest

from igtdetect_spark.config import (
    DEFAULT_CONFIG,
    REF_MODEL_PATH,
    REF_SAMPLE_TEST,
    REF_SAMPLE_TRAIN,
    PipelineConfig,
)
from igtdetect_spark.featurespec import (
    Lexicons,
    fired,
    render_svmlight,
    split_words,
    text_features,
)
from igtdetect_spark.labels import basic_label, handle_label, prev_label_feat
from igtdetect_spark.lexicons import load_reference_lexicons
from igtdetect_spark.oracle.freki import (
    FrekiInfo,
    parse_freki,
    read_freki,
    safe_mode,
)
from igtdetect_spark.oracle.pipeline import (
    assign_spans,
    detect_spans,
    detected_text,
    extract_doc_features,
    score_doc,
)
from igtdetect_spark.oracle.corpus import make_doc, make_corpus
from igtdetect_spark.refmodel import load_reference_model, split_prefix
from igtdetect_spark.segmentation import (
    extract_page_text,
    segment_text,
    strip_html,
)

from conftest import REF_LEXICON_FILES, needs_reference


@pytest.fixture(scope="module")
def lex():
    return load_reference_lexicons()


@pytest.fixture(scope="module")
def model():
    return load_reference_model(REF_MODEL_PATH)


# function-scoped: extract_doc_features mutates line.tag (BI rewrite —
# reference semantics, igtdetect.py:504), so each test needs a fresh parse
@pytest.fixture()
def sample_test_doc():
    return read_freki(REF_SAMPLE_TEST)


# ---------------------------------------------------------------------------
# freki parsing
# ---------------------------------------------------------------------------

class TestFrekiParse:
    @needs_reference(REF_SAMPLE_TEST)
    def test_sample_test_shape(self, sample_test_doc):
        d = sample_test_doc
        assert d.doc_id == "2629.tetml"
        assert len(d) == 268
        # 40 block headers: 33 carry lines, 7 are the per-page empty
        # "{page}-1" blocks (bbox=0,0,0,0 0 0)
        assert len(d.blocks) == 40
        assert len([b for b in d.blocks if b.lines]) == 33

    @needs_reference(REF_SAMPLE_TRAIN)
    def test_sample_train_shape(self):
        d = read_freki(REF_SAMPLE_TRAIN)
        assert d.doc_id == "94.tetml"
        assert len(d) == 3948

    @needs_reference(REF_SAMPLE_TEST)
    def test_line13_attrs(self, sample_test_doc):
        ln = sample_test_doc.get_line(13)
        assert ln.tag == "L"
        assert ln.lang_name == "Northern Talyshi"
        assert ln.lang_code == "tly"
        assert ln.span_id == "s0"
        assert ("F2", 12.0) in ln.fonts and ("F1", 12.0) in ln.fonts
        assert ln.text.lstrip().startswith("a.")

    @needs_reference(REF_SAMPLE_TEST)
    def test_block_fields(self, sample_test_doc):
        b = sample_test_doc.get_line(1).block
        assert b.block_id == "1-2"
        assert b.page == 1
        assert b.bbox == (56.6, 723.2, 437.9, 773.1)

    @needs_reference(REF_SAMPLE_TEST)
    def test_spans_ordered(self, sample_test_doc):
        spans = sample_test_doc.spans()
        assert list(spans)[:3] == ["s0", "s1", "s2"]
        assert spans["s0"] == (13, 14, 15)

    def test_safe_mode_tiebreak_first_occurrence(self):
        # b and a tie at 2 — first inserted into the Counter wins
        assert safe_mode(["b", "a", "a", "b", "c"]) == "b"
        assert safe_mode([]) is None

    @needs_reference(REF_SAMPLE_TEST)
    def test_doc_info(self, sample_test_doc):
        fi = FrekiInfo.from_doc(sample_test_doc)
        assert fi.def_font == ("F1", 12.0)
        assert fi.llx is not None


# ---------------------------------------------------------------------------
# label grammar (igtdetect.py:307-345)
# ---------------------------------------------------------------------------

class TestLabels:
    def test_noisy_skip(self):
        assert handle_label("*L", DEFAULT_CONFIG) == "O"

    def test_noisy_keep(self):
        cfg = DEFAULT_CONFIG.with_(skip_noisy=False)
        assert handle_label("*L", cfg) == "L"

    def test_strip_flags(self):
        assert handle_label("M+AC+LN", DEFAULT_CONFIG) == "M"

    def test_bi_strip(self):
        assert handle_label("B-L", DEFAULT_CONFIG) == "L"
        assert handle_label("I-G", DEFAULT_CONFIG) == "G"

    def test_bi_keep_multi_collapse(self):
        cfg = DEFAULT_CONFIG.with_(use_bi_labels=True)
        assert handle_label("B-G-T", cfg) == "B-G"

    def test_multi_collapse(self):
        assert handle_label("G-T", DEFAULT_CONFIG) == "G"

    def test_basic_label(self):
        assert basic_label("*B-L+AC") == "O"  # noisy → O under skip_noisy
        assert basic_label("I-G+LN") == "G"
        assert prev_label_feat("B-L") == "prev_tag_L"


# ---------------------------------------------------------------------------
# text features (igtdetect.py:136-187, 599-735) incl. quirks
# ---------------------------------------------------------------------------

class TestTextFeatures:
    def feats(self, text, lex=None, cfg=DEFAULT_CONFIG):
        return text_features(text, lex or Lexicons(), cfg)

    def test_tokenizer(self):
        # ':'/'#' are not \w, so they split tokens (the reference's
        # reserved-char strip is a no-op on \w+ tokens — kept for parity)
        assert split_words("Fo:o ba#r BAZ") == ["fo", "o", "ba", "r", "baz"]
        assert split_words("av-on  m-ni-s") == ["av", "on", "m", "ni", "s"]

    def test_word_feats(self):
        f = self.feats("The cat")
        assert f["word_the"] and f["word_cat"]

    def test_citation_and_year(self):
        f = self.feats("(Schulze, 2000)")
        assert f["has_citation"] and f["has_year"] and f["has_parenthetical"]
        f2 = self.feats("(Schulze, 2021)")  # year regex caps at 2019
        assert not f2["has_citation"] and not f2["has_year"]

    def test_numbering(self):
        assert self.feats("  (1)  text")["has_numbering"]
        assert self.feats("a.  text")["has_numbering"]
        assert not self.feats("Text")["has_numbering"]

    def test_quotation_multiword(self):
        assert self.feats("‘They sent me.’")["has_quotation"]
        assert not self.feats("‘one’")["has_quotation"]

    def test_unicode_ranges(self):
        assert self.feats("што это")["has_cyr"]
        assert self.feats("πρός")["has_grk"]
        assert self.feats("日本語")["has_jpn"]
        assert self.feats("한국어")["has_kor"]
        assert self.feats("déjà")["has_acc_lat"]

    def test_dia_quirk_en_dash_fires(self):
        # the buggy class contains a literal U+2013 → en dash fires has_dia
        f = self.feats("pages 12–14")
        assert f["has_dia"] and f["has_uni"]
        # most combining marks are MISSED by the buggy class (U+0301 not in
        # {U+0300, U+2013, U+036F})
        f2 = self.feats("á")
        assert not f2["has_dia"]
        # but the exact boundary chars do fire
        assert self.feats("à")["has_dia"]
        assert self.feats("aͯ")["has_dia"]

    def test_dia_fixed_mode(self):
        cfg = DEFAULT_CONFIG.with_(buggy_diacritic_class=False)
        assert self.feats("á", cfg=cfg)["has_dia"]
        assert not self.feats("pages 12–14", cfg=cfg)["has_dia"]

    def test_oov_dead_by_default(self):
        lex = Lexicons(en_words=frozenset(["the"]))
        f = self.feats("zzz qqq www", lex)
        assert not f["high_oov_rate"] and not f["med_oov_rate"]
        assert "med_gls_oov" not in f  # declared but never computed

    def test_oov_real_mode(self):
        lex = Lexicons(en_words=frozenset(["the", "cat"]))
        cfg = DEFAULT_CONFIG.with_(real_oov_features=True)
        f = text_features("zzz qqq the", lex, cfg)
        assert f["high_oov_rate"]  # 2/3 ≥ 0.5

    def test_grams_substring_no_boundary(self, lexicons):
        # 'ACC' cased gram matches as substring (no word boundary)
        f = self.feats("word-ACCUSATIVE", lexicons)
        assert f["has_grams"]
        # case-insensitive list: '1SG' matches inside '1sg.pron'
        f2 = self.feats("1sg.pron-pl", lexicons)
        assert f2["has_grams"]

    def test_langname_single_token_only(self, lexicons):
        f = self.feats("the russian example", lexicons)
        assert f["has_langname"]
        # matching is token ∈ set — multi-word names only fire when one of
        # their words is independently a name; short tokens never match
        # (names are ≥5 chars)
        f2 = self.feats("xx yy zz", lexicons)
        assert not f2["has_langname"]

    def test_svmlight_rendering(self):
        f = {"b_feat": True, "a_feat": True, "c_feat": False}
        assert render_svmlight("L", f) == "L\ta_feat:1\tb_feat:1"


# ---------------------------------------------------------------------------
# model extraction + scoring
# ---------------------------------------------------------------------------

class TestModel:
    @needs_reference(REF_MODEL_PATH)
    def test_classes(self, model):
        assert model.classes == ["G", "L", "M", "O", "T"]
        assert model.intercept.shape == (5,)

    def test_split_prefix_collisions(self):
        assert split_prefix("prev_line_same_block") == ("cur", "prev_line_same_block")
        assert split_prefix("next_line_same_block") == ("cur", "next_line_same_block")
        assert split_prefix("prev_prev_line_same_block") == ("prev", "prev_line_same_block")
        assert split_prefix("prev_prev_prev_line_same_block") == ("prev_prev", "prev_line_same_block")
        assert split_prefix("prev_next_line_same_block") == ("prev", "next_line_same_block")
        assert split_prefix("prev_prev_word_x") == ("prev_prev", "word_x")
        assert split_prefix("next_word_the") == ("next", "word_the")
        assert split_prefix("prev_tag_L") == ("cur", "prev_tag_L")
        assert split_prefix("word_prev_tag_l") == ("cur", "word_prev_tag_l")

    @needs_reference(REF_MODEL_PATH, REF_SAMPLE_TEST, *REF_LEXICON_FILES)
    def test_decomposition_matches_direct(self, model, lex, sample_test_doc):
        """Folded context-weight scoring == direct selected-feature-space
        scoring, on the real sample doc."""
        from igtdetect_spark.oracle.pipeline import _base_matrix

        inst = extract_doc_features(sample_test_doc, lex)
        name2col = {n: i for i, n in enumerate(model.feature_names)}
        Xf = np.zeros((len(inst), len(model.feature_names)))
        for i, li in enumerate(inst):
            for k, v in li.feats.items():
                if v and not k.startswith("prev_tag") and k in name2col:
                    Xf[i, name2col[k]] = 1.0
        d_direct = Xf @ model.coef_full.T + model.intercept
        d_decomp = model.decision_doc(_base_matrix(inst, model))
        assert np.abs(d_direct - d_decomp).max() < 1e-9

    @needs_reference(REF_MODEL_PATH, REF_SAMPLE_TEST, *REF_LEXICON_FILES)
    def test_sample_doc_predictions_stable(self, model, lex, sample_test_doc):
        """Regression pin: predictions on the reference sample doc."""
        inst = extract_doc_features(sample_test_doc, lex)
        labels, probs = score_doc(inst, model)
        assert len(labels) == 268
        assert probs.shape == (268, 5)
        assert np.allclose(probs.sum(axis=1), 1.0)
        non_o = [(i + 1, l) for i, l in enumerate(labels) if l != "O"]
        # pinned from first verified run — any semantics change must be deliberate
        assert non_o == [(90, "L"), (91, "G"), (92, "T"), (101, "G")]

    @needs_reference(REF_SAMPLE_TEST, *REF_LEXICON_FILES)
    def test_bi_rewrite_in_training_labels(self, lex, sample_test_doc):
        inst = extract_doc_features(sample_test_doc, lex)
        # line 13 is gold L at span start → B-L; line 14 G continuing s0 → I-G
        by_lineno = {i.lineno: i for i in inst}
        assert by_lineno[13].label == "B-L"
        assert by_lineno[14].label == "I-G"

    @needs_reference(REF_SAMPLE_TEST, *REF_LEXICON_FILES)
    def test_prev_tag_feature_from_mutated_tag(self, lex, sample_test_doc):
        inst = extract_doc_features(sample_test_doc, lex)
        by_lineno = {i.lineno: i for i in inst}
        # line 14 follows line 13 whose tag was mutated to B-L → prev_tag_L
        assert by_lineno[14].feats.get("prev_tag_L") is True
        # first line gets prev_tag_O
        assert by_lineno[1].feats.get("prev_tag_O") is True


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class TestSpans:
    def test_assign_spans_islands(self):
        doc = parse_freki(
            "doc_id=t page=1 block_id=1-1 bbox=0,0,0,0 1 6\n"
            "line=1 tag=O fonts=F0-12.0:a\n"
            "line=2 tag=L fonts=F0-12.0:b\n"
            "line=3 tag=G fonts=F0-12.0:c\n"
            "line=4 tag=O fonts=F0-12.0:d\n"
            "line=5 tag=T fonts=F0-12.0:e\n"
            "line=6 tag=O fonts=F0-12.0:f\n"
        )
        tags = ["O", "L", "G", "O", "T", "O"]
        assign_spans(doc, tags)
        sids = [ln.span_id for ln in doc.lines()]
        assert sids == [None, "s1", "s1", None, "s2", None]

    def test_assign_spans_b_prefix_splits(self):
        doc = parse_freki(
            "doc_id=t page=1 block_id=1-1 bbox=0,0,0,0 1 3\n"
            "line=1 tag=L fonts=F0-12.0:a\n"
            "line=2 tag=L fonts=F0-12.0:b\n"
            "line=3 tag=L fonts=F0-12.0:c\n"
        )
        assign_spans(doc, ["B-L", "I-L", "B-L"])
        assert [ln.span_id for ln in doc.lines()] == ["s1", "s1", "s2"]

    def test_eof_quirk_drops_trailing_span(self):
        doc = parse_freki(
            "doc_id=t page=1 block_id=1-1 bbox=0,0,0,0 1 3\n"
            "line=1 tag=O fonts=F0-12.0:a\n"
            "line=2 tag=L fonts=F0-12.0:b\n"
            "line=3 tag=G fonts=F0-12.0:c\n"
        )
        spans = detect_spans(doc, ["O", "L", "G"])
        assert spans == []  # open at EOF → never flushed (reference quirk)
        spans2 = detect_spans(
            doc, ["O", "L", "G"], DEFAULT_CONFIG.with_(flush_eof_span=True)
        )
        assert len(spans2) == 1 and spans2[0].start_line == 2

    def test_block_dedup_in_detected_text(self):
        doc = parse_freki(
            "doc_id=t page=1 block_id=1-1 bbox=0,0,0,0 1 2\n"
            "line=1 tag=L fonts=F0-12.0:x\n"
            "line=2 tag=G fonts=F0-12.0:y\n"
            "doc_id=t page=1 block_id=1-2 bbox=0,0,0,0 3 3\n"
            "line=3 tag=T fonts=F0-12.0:z\n"
            "doc_id=t page=1 block_id=1-3 bbox=0,0,0,0 4 4\n"
            "line=4 tag=O fonts=F0-12.0:w\n"
        )
        spans = detect_spans(doc, ["L", "G", "T", "O"])
        assert len(spans) == 1
        # block 1-1 rendered once despite two member lines
        assert spans[0].text == "x\ny\nz"
        assert spans[0].block_ids == ["1-1", "1-2"]
        assert detected_text(spans) == "x\ny\nz\n\n"


# ---------------------------------------------------------------------------
# segmentation
# ---------------------------------------------------------------------------

class TestSegmentation:
    def test_blocks_and_lineno(self):
        segs = segment_text("a\nb\n\nc\n\n\nd")
        assert [(s.line_no, s.block_id, s.text) for s in segs] == [
            (1, "1-1", "a"), (2, "1-1", "b"), (3, "1-2", "c"), (4, "1-3", "d"),
        ]

    def test_pages_form_feed(self):
        segs = segment_text("a\n\fb")
        assert [(s.page, s.block_id) for s in segs] == [(1, "1-1"), (2, "2-1")]

    def test_llx_from_indent(self):
        segs = segment_text("    x\n  y")
        assert segs[0].block_llx == 2.0  # min leading ws over block
        assert segs[0].line_llx == 4.0

    def test_html_strip_basic(self):
        html = b"<html><head><script>x</script></head><body><p>Hello <b>world</b></p><p>Bye</p></body></html>"
        assert strip_html(html) == "Hello world\n\nBye"

    def test_html_gold_alignment(self):
        """HTML round-trip must reproduce the same non-blank line sequence
        as the plain-text source (gold tags are defined over those)."""
        d_txt = make_doc(7, as_html=False)
        d_html = make_doc(7, as_html=True)
        lines_txt = [s.text for s in segment_text(d_txt.text)]
        page_text = extract_page_text(d_html.html, None)
        lines_html = [s.text.rstrip() for s in segment_text(page_text)]
        assert [l.rstrip() for l in lines_txt] == lines_html

    def test_corpus_gold_span_construction(self):
        d = make_doc(3)
        segs = segment_text(d.text)
        assert len(segs) == len(d.gold_tags)
        for sp in d.gold_spans:
            assert all(d.gold_tags[i - 1] != "O" for i in range(sp.start_line, sp.end_line + 1))

    def test_corpus_determinism(self):
        a = make_corpus(5)
        b = make_corpus(5)
        assert [d.text for d in a] == [d.text for d in b]
        assert any(d.html is not None for d in a)
