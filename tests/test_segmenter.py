"""The whole-batch Arrow segmenter (``segmentation.segment_batch``) against
``segment_text``, its per-line Python oracle, and the chunked plan that
cuts mega-documents into slices of their own text."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from igtdetect_spark.oracle.freki import safe_mode
from igtdetect_spark.segmentation import grouped_mode, segment_batch, segment_text

_SURROGATES = range(0xD800, 0xE000)  # not representable in UTF-8 text
_COLUMNS = ("line_no", "page", "block_id", "block_llx", "line_llx", "text")


def _oracle_columns(doc: str) -> dict[str, list]:
    segs = segment_text(doc)
    return {k: [getattr(s, k) for s in segs] for k in _COLUMNS}


def _arrow_columns(doc: str) -> dict[str, list]:
    c = segment_batch([doc])
    return {
        "line_no": c.line_no.tolist(),
        "page": c.page.tolist(),
        "block_id": c.block_ids().tolist(),
        "block_llx": c.block_llx.tolist(),
        "line_llx": c.line_llx.tolist(),
        "text": c.text.to_numpy(zero_copy_only=False).tolist(),
    }


# Every code point in three positions, one code point per line of one
# document: as the whole line; inside an otherwise whitespace-only line
# (which, when blank, separates the blocks around it); and after a
# leading tab run and a leading space run.
TEMPLATES = {
    "alone": "{}",
    "in_whitespace": " {}\u3000",
    "after_indent": "\t {}x\n  {}y",
}


@pytest.mark.parametrize("where", sorted(TEMPLATES))
def test_every_code_point_segments_like_the_oracle(where):
    tpl = TEMPLATES[where]
    doc = "\n".join(
        tpl.format(chr(c), chr(c))
        for c in range(0x110000) if c not in _SURROGATES
    )
    want, got = _oracle_columns(doc), _arrow_columns(doc)
    for k in _COLUMNS:
        if got[k] != want[k]:
            i = next(
                (i for i, (a, b) in enumerate(zip(got[k], want[k])) if a != b),
                min(len(got[k]), len(want[k])),
            )
            line = want["text"][i] if i < len(want["text"]) else None
            pytest.fail(f"{k} differs at line {i} ({line!r}) of {len(want[k])}")


@pytest.mark.parametrize("doc, llx", [
    ("\tx", 4.0), ("  \t x", 7.0), ("x\t y", 0.0), (" \u3000x", 1.0),
    ("\xa0x", 0.0), ("\tx\r", 4.0),
])
def test_line_llx_counts_spaces_and_tabs_of_the_leading_run(doc, llx):
    assert segment_batch([doc]).line_llx.tolist() == [llx]
    assert [s.line_llx for s in segment_text(doc)] == [llx]


def test_documents_without_lines_get_no_rows():
    c = segment_batch(["", "\n \n\u3000", "a", "\f\f", "b\fc"])
    assert c.doc.tolist() == [2, 4, 4]
    assert c.doc_bounds(5).tolist() == [0, 0, 0, 1, 1, 3]
    assert c.page.tolist() == [1, 1, 2]
    assert c.block_ids().tolist() == ["1-1", "1-1", "2-1"]
    assert np.isnan(c.llx_modes(5)[[0, 1, 3]]).all()
    empty = segment_batch([])
    assert len(empty.doc) == 0 and empty.block_ids().tolist() == []


@settings(max_examples=300, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from([0.0, 1.0, 4.0, 8.0]), max_size=12),
    max_size=8,
))
def test_llx_mode_is_safe_mode_ties_included(groups):
    """The vectorized mode picks the most frequent value, and on a tie the
    value seen first, exactly as ``safe_mode``."""
    doc = np.repeat(np.arange(len(groups)), [len(g) for g in groups])
    values = np.array([v for g in groups for v in g], dtype=np.float64)
    got = grouped_mode(doc, values, len(groups))
    for g, m in zip(groups, got):
        if g:
            assert m == safe_mode(g)
        else:
            assert np.isnan(m)


def test_llx_mode_tie_goes_to_first_occurrence():
    got = grouped_mode(np.array([0, 0, 0, 0, 1, 1]),
                       np.array([4.0, 0.0, 0.0, 4.0, 2.0, 1.0]), 2)
    assert got.tolist() == [4.0, 2.0]


# ---------------------------------------------------------------------------
# Chunk edges: chunk rows carry slices of the original text, so the cuts
# must land right on \r\n line ends, tab-indented lines, whitespace-only
# separator lines, and the blank lines at a document's ends.
# ---------------------------------------------------------------------------

_SEPARATORS = ["\n\n", "\n\xa0\n", "\n\u3000 \n", "\r\n\r\n", "\n \t\n\n"]


def _hostile_mega(doc_idx: int, final_newline: bool) -> str:
    """A multi-paragraph synthetic IGT document rewritten with mixed line
    endings, tab indentation and whitespace-only separators, plus blank
    lines at both ends."""
    from igtdetect_spark.oracle.corpus import make_doc

    blocks = make_doc(doc_idx, lines_target=400).text.split("\n\n")
    parts = []
    for k, block in enumerate(blocks):
        lines = block.split("\n")
        if k % 3 == 1:
            lines = ["\t" + ln if j % 2 else ln for j, ln in enumerate(lines)]
        parts.append(("\r\n" if k % 4 == 2 else "\n").join(lines))
        parts.append(_SEPARATORS[k % len(_SEPARATORS)])
    text = "\n \n\r\n" + "".join(parts[:-1])
    return text + ("\n\u3000\n\n" if final_newline else "")


@pytest.mark.parametrize("chunk_lines", [1, 7])
def test_chunked_matches_fused_on_hostile_chunk_edges(spark, lexicons, chunk_lines):
    from igtdetect_spark.flagship import get_synthetic_model
    from igtdetect_spark.plans.chunked import detect_spans_chunked, split_mega_pages
    from igtdetect_spark.plans.pipeline import DetectContext, detect_spans_fused
    from igtdetect_spark.sources.pages import PAGES_SCHEMA

    rows = [
        (f"https://example.org/mega/{i}", None, None,
         _hostile_mega(i, final_newline=i % 2 == 0), "en")
        for i in range(3)
    ] + [("https://example.org/small", None, None, "a\r\n\tb\n\n c", "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
    ctx = DetectContext(spark, get_synthetic_model(), lexicons)

    # every block boundary (chunk_lines=1) or every few (7) is a cut, and
    # every chunk's text is a slice of its document
    texts = {r[0]: r[3] for r in rows}
    chunks = split_mega_pages(pages.filter("url like '%mega%'"), chunk_lines).collect()
    assert len(chunks) > 3 * 20
    for ch in chunks:
        assert ch.text in texts[ch.url]
    assert any("\r" in ch.text for ch in chunks)
    assert any(ch.text.startswith("\t") or "\n\t" in ch.text for ch in chunks)

    def key(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    fused = sorted(map(key, detect_spans_fused(pages, ctx).collect()))
    chunked = sorted(map(key, detect_spans_chunked(
        pages, ctx, chunk_lines=chunk_lines, mega_doc_chars=2_000,
    ).collect()))
    assert chunked == fused
    assert len(fused) > 20
