"""Segmentation operator: ``pages`` → ``lines`` (SURVEY.md §2.1 Freki scan).

``mapInPandas`` over pages batches — each input row is a whole document, so
segmentation, doc-level stats (llx mode / default font, deterministic
first-occurrence tie-break) and line adjacency (prev/next block id) are all
computed document-locally and denormalized onto the emitted rows. The
feature stage downstream therefore needs **no shuffle, no window, no join**
— the one shape that survives a 1000-executor 100 TB scan unchanged.

Segmentation is whole-batch Arrow (``segmentation.segment_batch``): no
per-line Python runs before the frame is built. A 260k-line (10.7M-char)
mega-document segments in ~0.13 s on one Xeon core, and its whole
``batch_to_columns`` frame takes ~0.23 s (the per-line Python segmenter
this replaced: ~0.4 s for segmentation alone).

A generic window/agg path for pre-sharded line tables lives in
``doc_stats.py``; both are parity-tested against the oracle.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.freki import FrekiDoc, parse_freki, safe_mode
from ..segmentation import DEFAULT_FONT, batch_page_texts, segment_batch
from .schema import LINES_SCHEMA
from .scale import spread_small_scan

_COLS = [f.name for f in LINES_SCHEMA.fields]


def batch_to_columns(
    urls, htmls, texts, html_main_content: bool = False
) -> tuple[dict[str, np.ndarray], list[tuple[str, int, int]]]:
    """Segment a batch of pages into one columnar frame (line columns with
    denormalized adjacency and document llx mode) + per-doc row slices
    [(url, start, stop)] for the documents that have lines."""
    urls = np.asarray(urls, dtype=object)
    seg = segment_batch(batch_page_texts(htmls, texts, html_main_content))
    bounds = seg.doc_bounds(len(urls)).tolist()
    bid = seg.block_ids()
    first = seg.line_no == 1
    prev_bid = np.roll(bid, 1)
    prev_bid[first] = None
    next_bid = np.roll(bid, -1)
    next_bid[np.roll(first, -1)] = None
    cols = {
        "url": urls[seg.doc],
        "line_no": seg.line_no,
        "page": seg.page,
        "block_id": bid,
        "llx": seg.block_llx,
        "line_llx": seg.line_llx,
        "text": seg.text.to_numpy(zero_copy_only=False),
        "prev_block_id": prev_bid,
        "next_block_id": next_bid,
        "doc_llx_mode": seg.llx_modes(len(urls))[seg.doc],
    }
    slices = [
        (urls[d], a, z)
        for d, (a, z) in enumerate(zip(bounds[:-1], bounds[1:]))
        if z > a
    ]
    return cols, slices


def _plain_frame(cols: dict[str, list]) -> pd.DataFrame:
    """Internal scoring frame for plain-text pages: no font info (all
    lines carry the single default font ⇒ font features are identically
    False, so the font columns are nulled and the font loop is skipped)."""
    n = len(cols["line_no"])
    pdf = pd.DataFrame(cols)
    pdf["fonts"] = None
    pdf["def_font_id"] = DEFAULT_FONT[0]
    pdf["def_font_size"] = DEFAULT_FONT[1]
    pdf["iscore"] = None
    return pdf


def segment_pages(pages: DataFrame, html_main_content: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → lines DataFrame."""
    pages = spread_small_scan(pages, "url")
    fid, fsize = DEFAULT_FONT

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols, _ = batch_to_columns(
                pdf["url"], pdf["html"], pdf["text"], html_main_content
            )
            n = len(cols["line_no"])
            out = pd.DataFrame(cols)
            font_cell = [{"font_id": fid, "size": fsize}]
            out["fonts"] = [font_cell] * n
            out["tag"] = "O"
            out["span_id"] = None
            out["lang_name"] = None
            out["lang_code"] = None
            out["iscore"] = None
            out["attrs"] = None
            out["def_font_id"] = fid
            out["def_font_size"] = fsize
            yield out[_COLS] if n else pd.DataFrame(columns=_COLS)

    # only the columns segmentation needs reach Python (column pruning)
    return pages.select("url", "html", "text").mapInPandas(
        gen, schema=LINES_SCHEMA
    )


def rows_for_freki_doc(url: str, doc: FrekiDoc) -> Iterable[dict]:
    """Flatten a parsed FrekiDoc into lines rows (freki-file parity path)."""
    lines = list(doc.lines())
    if not lines:
        return
    def_font = safe_mode(doc.fonts())
    llx_mode = safe_mode(doc.llxs())
    n = len(lines)
    for i, ln in enumerate(lines):
        iscore = ln.attrs.get("iscore")
        yield {
            "url": url,
            "line_no": ln.lineno,
            "page": ln.block.page,
            "block_id": ln.block.block_id,
            "llx": ln.block.llx,
            "line_llx": ln.block.llx,
            "text": ln.text,
            "fonts": [{"font_id": f, "size": s} for f, s in ln.fonts],
            "tag": ln.tag,
            "span_id": ln.span_id,
            "lang_name": ln.lang_name,
            "lang_code": ln.lang_code,
            "iscore": float(iscore) if iscore is not None else None,
            "attrs": dict(ln.attrs) if ln.attrs else None,
            "prev_block_id": lines[i - 1].block.block_id if i > 0 else None,
            "next_block_id": lines[i + 1].block.block_id if i < n - 1 else None,
            "doc_llx_mode": llx_mode,
            "def_font_id": def_font[0] if def_font else None,
            "def_font_size": def_font[1] if def_font else None,
        }


def render_freki_df(lines: DataFrame, tag_col: str = "tag") -> DataFrame:
    """Classified-doc sink: re-serialize lines to freki text per url
    (reference str(fd) write, igtdetect.py:1281) — grouped-map UDF, one
    group per document, byte-parity with the oracle renderer (it IS the
    oracle renderer, fed from columns). Output: (url, freki_text)."""
    from ..oracle.freki import FrekiBlock, FrekiDoc, FrekiLine

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no", kind="mergesort")
        url = pdf["url"].iloc[0]
        doc = FrekiDoc(url)
        blocks: dict[str, FrekiBlock] = {}
        for r in pdf.itertuples(index=False):
            b = blocks.get(r.block_id)
            if b is None:
                b = FrekiBlock(
                    doc_id=url, page=int(r.page), block_id=r.block_id,
                    bbox=(float(r.llx or 0.0), 0.0, 0.0, 0.0),
                    start_line=int(r.line_no), stop_line=int(r.line_no),
                )
                blocks[r.block_id] = b
                doc.add_block(b)
            raw_fonts = r.fonts if r.fonts is not None else []
            fonts = [
                (f["font_id"], f["size"]) if isinstance(f, dict) else tuple(f)
                for f in raw_fonts
            ]
            ln = FrekiLine(
                lineno=int(r.line_no), text=r.text or "",
                tag=getattr(r, tag_col) or "O",
                span_id=r.span_id, lang_name=r.lang_name,
                lang_code=r.lang_code, fonts=fonts,
            )
            ln.block = b
            b.lines.append(ln)
            b.stop_line = int(r.line_no)
            doc._by_lineno[ln.lineno] = ln
        return pd.DataFrame({"url": [url], "freki_text": [doc.render()]})

    cols = [
        "url", "line_no", "page", "block_id", "llx", "text", "fonts",
        "span_id", "lang_name", "lang_code",
    ]
    if tag_col not in cols:
        cols.append(tag_col)
    return lines.select(*cols).groupBy("url").applyInPandas(
        render, schema="url string, freki_text string"
    )


def segment_freki_files(spark, paths: list[str]) -> DataFrame:
    """Read freki text files (one doc per file) → lines DataFrame.

    Files are read distributed (``spark.read.text`` wholetext) so the
    parser runs on executors.
    """
    raw = spark.read.text(paths, wholetext=True).withColumn(
        "path", F.input_file_name()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for path, value in zip(pdf["path"], pdf["value"]):
                doc = parse_freki(value)
                url = doc.doc_id or path
                rows.extend(rows_for_freki_doc(url, doc))
            yield pd.DataFrame(rows, columns=_COLS)

    return raw.mapInPandas(gen, schema=LINES_SCHEMA)
