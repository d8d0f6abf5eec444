"""Freki-style segmentation of raw page content into lines/blocks.

The reference consumes pre-segmented freki files produced offline by
pdf-to-text tooling. Our engine ingests Common-Crawl-style ``pages`` rows
(``url, warc_ts, html, text, lang`` — driver input_hint) and performs the
segmentation itself. Deterministic rules, implemented twice: per line in
``segment_text`` (the oracle) and over whole Arrow batches in
``segment_batch`` (every Spark path); tests pin the two together over
every code point:

- pages (PDF-text convention): form-feed ``\\f`` separates pages, 1-based.
- blocks: maximal runs of non-blank lines (blank = ``strip() == ''``);
  ``block_id = "{page}-{k}"`` with ``k`` a per-page 1-based counter.
- line numbers: doc-global, 1-based, over non-blank lines only (blank lines
  are separators, not lines — matches the freki sample numbering).
- llx: plain text has no layout, so indentation stands in — llx = leading
  space count (tabs count 4) of the line, block llx = min over its lines
  (mirrors ``line.block.llx`` granularity the features consume).
- fonts: unknown from plain text → every line gets the default ``F0-12.0``
  (font features then never fire, exactly like a single-font freki doc).

HTML rows (``html`` non-null wins over ``text``) are boilerplate-stripped
with deterministic DOM-free heuristics (north_rule: "HTML boilerplate
strip"): drop <script>/<style>/<head> content, block-level tags become
paragraph breaks, <br> a line break, remaining tags stripped, entities
unescaped — then the plain-text segmentation above applies.
"""

from __future__ import annotations

import functools
import html as _htmlmod
import re
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .unicode_classes import space_set

DEFAULT_FONT = ("F0", 12.0)


@dataclass
class SegmentedLine:
    line_no: int          # doc-global, 1-based
    page: int
    block_id: str
    block_llx: float
    line_llx: float
    text: str


_TAB_WIDTH = 4


def _leading_ws(line: str) -> int:
    n = 0
    for ch in line:
        if ch == " ":
            n += 1
        elif ch == "\t":
            n += _TAB_WIDTH
        else:
            break
    return n


def segment_text(text: str) -> list[SegmentedLine]:
    """Segment one plain-text document into numbered lines with block ids."""
    out: list[SegmentedLine] = []
    line_no = 0
    pages = text.split("\f")
    for page_idx, page_text in enumerate(pages, start=1):
        block_no = 0
        cur_block: list[tuple[int, str]] = []  # (line_no, text)

        def flush(cur_block, block_no):
            if not cur_block:
                return block_no
            block_no += 1
            block_id = f"{page_idx}-{block_no}"
            llx = float(min(_leading_ws(t) for _, t in cur_block))
            for ln, t in cur_block:
                out.append(
                    SegmentedLine(
                        line_no=ln,
                        page=page_idx,
                        block_id=block_id,
                        block_llx=llx,
                        line_llx=float(_leading_ws(t)),
                        text=t,
                    )
                )
            return block_no

        for raw in page_text.split("\n"):
            line = raw.rstrip("\r")
            if line.strip() == "":
                block_no = flush(cur_block, block_no)
                cur_block = []
            else:
                line_no += 1
                cur_block.append((line_no, line))
        block_no = flush(cur_block, block_no)
    return out


@dataclass
class LineColumns:
    """Every non-blank line of a batch of documents in document order,
    one array per field: ``segment_text``'s lines, segmented by
    ``segment_batch``."""

    doc: np.ndarray        # batch row of the line's document, ascending
    line_no: np.ndarray    # 1-based per document
    page: np.ndarray       # 1-based per document
    block: np.ndarray      # 0-based block index over the whole batch
    block_no: np.ndarray   # 1-based per page: block_id = f"{page}-{block_no}"
    block_ord: np.ndarray  # 0-based per document, not restarting on pages
    block_llx: np.ndarray
    line_llx: np.ndarray
    text: pa.Array         # the line, its trailing "\r" run stripped
    raw: pa.Array = field(repr=False)       # every split piece, blank or not
    raw_doc: np.ndarray = field(repr=False)  # batch row of each raw piece
    kept: np.ndarray = field(repr=False)     # index of each line in ``raw``

    def doc_bounds(self, n_docs: int) -> np.ndarray:
        """The lines of batch row ``d`` are ``bounds[d]:bounds[d + 1]``."""
        return np.searchsorted(self.doc, np.arange(n_docs + 1))

    def block_ids(self) -> np.ndarray:
        """``f"{page}-{block_no}"`` per line, as an object array."""
        first = np.flatnonzero(np.diff(self.block, prepend=-1))
        ids = pc.binary_join_element_wise(
            pc.cast(pa.array(self.page[first]), pa.string()),
            pc.cast(pa.array(self.block_no[first]), pa.string()),
            "-",
        ).to_numpy(zero_copy_only=False)
        return ids[self.block]

    def llx_modes(self, n_docs: int) -> np.ndarray:
        """``safe_mode`` of each document's per-line block llx (NaN for a
        document without lines)."""
        return grouped_mode(self.doc, self.block_llx, n_docs)

    def offsets(self) -> tuple[np.ndarray, np.ndarray]:
        """Code-point offsets ``(start, stop)`` of each line in its
        document: ``doc[start:stop]`` is the line before its ``\\r`` run
        is stripped."""
        # Every raw piece is followed by one separator ("\n" or "\f"),
        # so a piece starts at the running sum of (length + 1) before it.
        size = pc.utf8_length(self.raw).to_numpy().astype(np.int64) + 1
        start = np.cumsum(size) - size
        start -= start[_group_first(self.raw_doc)]
        start = start[self.kept]
        return start, start + size[self.kept] - 1


def _group_first(keys: np.ndarray) -> np.ndarray:
    """For ascending ``keys``: index of the first element of each
    element's run of equal keys."""
    idx = np.arange(len(keys))
    new = np.ones(len(keys), dtype=bool)
    new[1:] = keys[1:] != keys[:-1]
    return np.maximum.accumulate(np.where(new, idx, 0))


def grouped_mode(groups: np.ndarray, values: np.ndarray, n_groups: int) -> np.ndarray:
    """``safe_mode`` of ``values`` within each group (ascending ``groups``):
    the most frequent value, ties broken by first occurrence; NaN for an
    empty group."""
    out = np.full(n_groups, np.nan)
    if not len(groups):
        return out
    order = np.lexsort((values, groups))  # stable: runs keep input order
    g, v = groups[order], values[order]
    new = np.ones(len(g), dtype=bool)
    new[1:] = (g[1:] != g[:-1]) | (v[1:] != v[:-1])
    runs = np.flatnonzero(new)
    count = np.diff(np.append(runs, len(g)))
    first = order[runs]
    best = np.lexsort((first, -count, g[runs]))
    head = np.ones(len(best), dtype=bool)
    head[1:] = g[runs][best][1:] != g[runs][best][:-1]
    pick = runs[best[head]]
    out[g[pick]] = v[pick]
    return out


@functools.cache
def _blank_pattern() -> str:
    return f"^[{space_set()}]*$"


def segment_batch(contents: list[str]) -> LineColumns:
    """Segment a batch of plain-text documents with whole-batch Arrow
    kernels, by ``segment_text``'s rules (the tests pin the two together
    over every code point).

    Split on ``\\f`` then ``\\n``; strip each line's trailing ``\\r`` run;
    a line is blank when it matches ``^\\s*$`` (Python's ``\\s``, which is
    what ``str.strip`` removes, spelled out for RE2); llx is the leading
    ``[ \\t]*`` run with tabs counting ``_TAB_WIDTH``. Block numbers are a
    cumulative sum of block starts, block llx the minimum over the
    block's lines. The ``\\f`` split and the ``\\r`` strip run only when
    some document has the character."""
    docs = pa.array(contents, type=pa.large_string())
    if any("\f" in c for c in contents if c):
        pages = pc.split_pattern(docs, "\f")
        page_doc = pc.list_parent_indices(pages).to_numpy()
        pages = pc.list_flatten(pages)
    else:  # one page per document
        pages, page_doc = docs, np.arange(len(docs))
    raw = pc.split_pattern(pages, "\n")
    raw_page = pc.list_parent_indices(raw).to_numpy()
    raw = pc.list_flatten(raw)
    lines = raw
    if any("\r" in c for c in contents if c):
        lines = pc.utf8_rtrim(raw, characters="\r")

    keep = ~pc.match_substring_regex(lines, _blank_pattern()).to_numpy(
        zero_copy_only=False
    )
    # A block starts at a kept line whose predecessor on its page is
    # blank or missing.
    prev_kept = np.zeros(len(keep), dtype=bool)
    prev_kept[1:] = keep[:-1] & (raw_page[1:] == raw_page[:-1])
    starts_block = (keep & ~prev_kept)[keep]

    kept = np.flatnonzero(keep)
    text = lines.take(pa.array(kept))
    page_idx = raw_page[kept]
    doc = page_doc[page_idx]
    block = np.cumsum(starts_block) - 1
    doc_first = _group_first(doc)
    page_no = np.arange(len(page_doc)) - _group_first(page_doc) + 1

    # llx: the leading [ \t]* run, plus (_TAB_WIDTH - 1) per tab in it
    # (counted only on the lines that have such a run).
    lead = pc.subtract(
        pc.binary_length(text),
        pc.binary_length(pc.ascii_ltrim(text, characters=" \t")),
    ).to_numpy()
    line_llx = lead.astype(np.float64)
    indented = np.flatnonzero(lead)
    if len(indented):
        sub = text.take(pa.array(indented))
        tabs = pc.subtract(
            pc.count_substring(sub, "\t"),
            pc.count_substring(pc.ascii_ltrim(sub, characters=" \t"), "\t"),
        ).to_numpy()
        line_llx[indented] += (_TAB_WIDTH - 1) * tabs
    first = np.flatnonzero(starts_block)
    block_llx = np.repeat(
        np.minimum.reduceat(line_llx, first), np.diff(np.append(first, len(kept)))
    )
    return LineColumns(
        doc=doc,
        line_no=np.arange(len(kept)) - doc_first + 1,
        page=page_no[page_idx],
        block=block,
        block_no=block - block[_group_first(page_idx)] + 1,
        block_ord=block - block[doc_first],
        block_llx=block_llx,
        line_llx=line_llx,
        text=text,
        raw=raw,
        raw_doc=page_doc[raw_page],
        kept=kept,
    )


# ---------------------------------------------------------------------------
# HTML boilerplate strip (deterministic, regex-based)
# ---------------------------------------------------------------------------

_RE_DROP = re.compile(
    r"<(script|style|head|noscript|template|svg)\b[^>]*>.*?</\1\s*>",
    re.I | re.S,
)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
_RE_BR = re.compile(r"<br\s*/?>", re.I)
_BLOCK_TAGS = (
    "p|div|section|article|header|footer|nav|aside|main|h[1-6]|li|ul|ol|"
    "table|tr|td|th|blockquote|pre|figure|figcaption|form|hr"
)
_RE_BLOCK_OPEN = re.compile(r"<(?:%s)\b[^>]*>" % _BLOCK_TAGS, re.I)
_RE_BLOCK_CLOSE = re.compile(r"</(?:%s)\s*>" % _BLOCK_TAGS, re.I)
_RE_ANY_TAG = re.compile(r"<[^>]+>")
_RE_MULTIBLANK = re.compile(r"\n{3,}")


def strip_html(html_bytes: bytes | str) -> str:
    """HTML → plain text with paragraph structure, deterministically."""
    if isinstance(html_bytes, (bytes, bytearray)):
        s = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        s = html_bytes
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DROP.sub(" ", s)
    s = _RE_BR.sub("\n", s)
    s = _RE_BLOCK_OPEN.sub("\n\n", s)
    s = _RE_BLOCK_CLOSE.sub("\n\n", s)
    s = _RE_ANY_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    # normalize: strip per-line trailing ws, collapse 3+ blank lines to one
    lines = [ln.rstrip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _RE_MULTIBLANK.sub("\n\n", s)
    return s.strip("\n")


# ---------------------------------------------------------------------------
# Main-content extraction (DOM-free density heuristics, north_rule)
# ---------------------------------------------------------------------------

_A_OPEN = "\x02"
_A_CLOSE = "\x03"
_RE_ANCHOR = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
_EN_STOP_SMALL = frozenset(
    "the a an of to in and is are was were that this it for on with as by".split()
)


def _mark_anchors(s: str) -> str:
    return _RE_ANCHOR.sub(lambda m: _A_OPEN + m.group(1) + _A_CLOSE, s)


def main_content_text(
    html_bytes: bytes | str,
    min_block_chars: int = 25,
    max_link_frac: float = 0.4,
    min_stopword_hits: int = 1,
) -> str:
    """Main-content extraction: boilerplate blocks (navigation, footers,
    link farms) are dropped by deterministic density heuristics —
    per-block link-character fraction (chars inside <a> tags), block text
    mass, and function-word presence. DOM-free: anchors are marked with
    sentinels before tag stripping, so the link mass survives into the
    block segmentation. A block is kept iff

        chars ≥ min_block_chars ∧ link_frac ≤ max_link_frac
        ∧ stopword_hits ≥ min_stopword_hits

    (the standard text-density/link-density boilerplate signal, computed
    per block instead of per DOM node)."""
    if isinstance(html_bytes, (bytes, bytearray)):
        s = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        s = html_bytes
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DROP.sub(" ", s)
    s = _mark_anchors(s)
    s = _RE_BR.sub("\n", s)
    s = _RE_BLOCK_OPEN.sub("\n\n", s)
    s = _RE_BLOCK_CLOSE.sub("\n\n", s)
    s = _RE_ANY_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    lines = [ln.rstrip() for ln in s.split("\n")]
    s = _RE_MULTIBLANK.sub("\n\n", "\n".join(lines)).strip("\n")

    kept_blocks: list[str] = []
    for block in s.split("\n\n"):
        visible = block.replace(_A_OPEN, "").replace(_A_CLOSE, "")
        stripped = visible.strip()
        if not stripped:
            continue
        # link mass: characters between anchor sentinels
        link_chars = 0
        depth = 0
        for ch in block:
            if ch == _A_OPEN:
                depth += 1
            elif ch == _A_CLOSE:
                depth = max(0, depth - 1)
            elif depth > 0 and not ch.isspace():
                link_chars += 1
        n_chars = sum(1 for ch in stripped if not ch.isspace())
        link_frac = link_chars / n_chars if n_chars else 1.0
        toks = [t.lower() for t in _WORD_SPLIT.findall(visible)]
        sw_hits = sum(1 for t in toks if t in _EN_STOP_SMALL)
        if (
            len(stripped) >= min_block_chars
            and link_frac <= max_link_frac
            and sw_hits >= min_stopword_hits
        ):
            kept_blocks.append(visible)
    return "\n\n".join(kept_blocks)


_WORD_SPLIT = re.compile(r"[A-Za-z']+")


def extract_page_text(
    html: Optional[bytes],
    text: Optional[str],
    html_main_content: bool = False,
) -> str:
    """Pick the page's content source: html wins when present, else text
    (the pdf-to-text path). ``html_main_content`` switches the HTML path
    from plain boilerplate-strip to density-based main-content
    extraction."""
    if html is not None and len(html) > 0:
        if html_main_content:
            return main_content_text(html)
        return strip_html(html)
    return text or ""


def batch_page_texts(htmls, texts, html_main_content: bool = False) -> list[str]:
    """``extract_page_text`` over a batch's ``html`` and ``text`` columns."""
    return [
        extract_page_text(
            bytes(html) if html is not None else None, text,
            html_main_content=html_main_content,
        )
        for html, text in zip(htmls, texts)
    ]


def segment_page(html: Optional[bytes], text: Optional[str]) -> list[SegmentedLine]:
    return segment_text(extract_page_text(html, text))
