"""Chunked mega-document detection: the scalable skew path.

Every stage stays *narrow* except one placement repartition of text
chunks, so no single task owns a whole mega-document and no per-line rows
are shuffled:

1. **split** (mapInPandas, narrow): segment each batch of mega pages
   once (``segment_batch``, whole-batch Arrow), cut at the first block
   start at or after every ``chunk_lines`` mark (blocks never straddle
   chunks), and emit chunk rows carrying a slice of the page's own text
   (from the chunk's first line to the end of its last, cut with the
   segmenter's line offsets), a ≤2-line feature halo with its ORIGINAL
   block identity/llx (so the first real lines' adjacency/layout context
   is exact), and the document-global line offset and block ordinal.
2. **place** the chunk rows (the only full-data shuffle): chunk ``k`` of
   a document goes to partition ``hash(url) + k`` (mod ``2 × cores``), so
   one document's chunks take consecutive partitions, one chunk each
   until they wrap (``place_chunks``).
3. **fused kernel per batch of chunks** (narrow): one ``segment_batch``
   over the batch's slices; each chunk's line numbers and block
   ordinals plus its offsets reproduce the document-global line numbers
   and block ids (blocks are chunk-contained, so per-block llx matches
   the original); halo rows provide n−2/n−1 context and are dropped
   before span assembly; chunk-local spans are assembled with the EOF
   flush forced on.
4. **stitch** (groupBy url over SPANS only — a few rows per document):
   merge spans adjacent across chunk boundaries, renumber, re-apply the
   reference EOF quirk doc-globally.

Batch-mode models only (sequential decode cannot cross chunks — refused);
``cfg.word_overlap`` is refused too (the 2-line halo cannot reproduce
unbounded backward overlap context). Mega documents containing form-feed
page breaks fall back to the fused whole-document path (the chunk frame
hardcodes page=1; web text has no \\f, so the fallback is cold).
Bit-parity with the fused path is tested with forced multi-chunk
documents.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.schema import SPANS_SCHEMA
from ..operators.segment import _plain_frame
from ..operators.vectorized import label_documents, spans_from_labels
from ..refmodel import ModelWeights
from ..segmentation import batch_page_texts, segment_batch
from .pipeline import DetectContext, detect_spans_fused

_HALO_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("block_no", IntegerType()),   # doc-global block ordinal
        StructField("block_llx", DoubleType()),
        StructField("line_llx", DoubleType()),
        # true neighbors OUTSIDE the chunk frame (frame-edge adjacency —
        # these rows feed context into real lines, so their own
        # prev/next_line_same_block features must be exact)
        StructField("prev_block_no", IntegerType(), True),
        StructField("next_block_no", IntegerType(), True),
    ]
)

_CHUNK_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("chunk_no", IntegerType(), False),
        StructField("line_offset", IntegerType(), False),
        StructField("block_offset", IntegerType(), False),
        StructField("doc_last_line", IntegerType(), False),
        StructField("doc_llx_mode", DoubleType(), True),
        StructField("halo_pre", ArrayType(_HALO_TYPE), False),
        StructField("halo_post", ArrayType(_HALO_TYPE), False),
        StructField("text", StringType(), False),
    ]
)

_SPAN_COLS = [f.name for f in SPANS_SCHEMA.fields]


def _halo(rows, f: str) -> list:
    """Field ``f`` of every halo entry (a dict or a Row, by Arrow
    version)."""
    return [x[f] if isinstance(x, dict) else getattr(x, f) for x in rows]


def _neighbor(edge, f: str) -> int:
    """Block number (1-based) of a frame edge's true neighbor, from the
    one halo entry in ``edge``; 0 when there is none."""
    v = _halo(edge, f)
    return v[0] + 1 if v and v[0] is not None else 0


def _block_keys(nums: np.ndarray) -> np.ndarray:
    """The chunk frame's single-page block ids ``"1-{n}"`` per block
    number, None where the number is 0 (no neighbor)."""
    ids = pa.array(nums, mask=nums == 0).cast(pa.string())
    return pc.binary_join_element_wise("1", ids, "-").to_numpy(
        zero_copy_only=False
    )


def split_mega_pages(
    pages: DataFrame, chunk_lines: int, html_main_content: bool = False
) -> DataFrame:
    """mega pages → chunk rows (one segmentation pass per batch, narrow)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = batch_page_texts(
                pdf["html"], pdf["text"], html_main_content
            )
            seg = segment_batch(contents)
            bounds = seg.doc_bounds(len(contents))
            modes = seg.llx_modes(len(contents))
            starts, stops = seg.offsets()
            rows = []
            for d, url in enumerate(pdf["url"]):
                lo, hi = int(bounds[d]), int(bounds[d + 1])
                n = hi - lo
                if n == 0:
                    continue
                ordn = seg.block_ord[lo:hi]
                block_starts = np.flatnonzero(np.diff(ordn, prepend=-1))
                # cut at the first block start at or after each
                # chunk_lines mark (blocks never straddle chunks)
                cuts = [0]
                k = chunk_lines
                while k < n:
                    i = np.searchsorted(block_starts, k)
                    if i == len(block_starts):
                        break
                    cuts.append(int(block_starts[i]))
                    k = cuts[-1] + chunk_lines
                cuts.append(n)

                def halo(a, b):
                    """Lines a..b-1 of the document with their original
                    block identity and layout, and their true neighbors'
                    blocks."""
                    a, b = max(a, 0), min(b, n)
                    return [
                        {
                            "text": seg.text[lo + i].as_py(),
                            "block_no": int(ordn[i]),
                            "block_llx": float(seg.block_llx[lo + i]),
                            "line_llx": float(seg.line_llx[lo + i]),
                            "prev_block_no": int(ordn[i - 1]) if i > 0 else None,
                            "next_block_no": int(ordn[i + 1]) if i + 1 < n else None,
                        }
                        for i in range(a, b)
                    ]

                start, stop = starts[lo:hi], stops[lo:hi]
                content = contents[d]
                for ci, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
                    rows.append(
                        {
                            "url": url,
                            "chunk_no": ci,
                            "line_offset": a,
                            "block_offset": int(ordn[a]),
                            "doc_last_line": n,
                            "doc_llx_mode": float(modes[d]),
                            # prev/prev_prev context for the first lines +
                            # next context for the last line
                            "halo_pre": halo(a - 2, a),
                            "halo_post": halo(b, b + 1),
                            # the document's own text from the chunk's first
                            # line to the end of its last one
                            "text": content[start[a]:stop[b - 1]],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _CHUNK_SCHEMA.fields]
            )

    return pages.select("url", "html", "text").mapInPandas(
        gen, schema=_CHUNK_SCHEMA
    )


def score_chunks(
    pdf: pd.DataFrame, model: ModelWeights, lex, cfg
) -> pd.DataFrame:
    """Chunk rows (``_CHUNK_SCHEMA``) → their chunk-local spans plus each
    document's last line number (``_doc_last``): one segmentation, one
    frame and one featurize pass for the whole batch, scored per chunk."""
    flush_cfg = cfg.with_(flush_eof_span=True)
    seg = segment_batch(pdf["text"].tolist())
    bounds = seg.doc_bounds(len(pdf)).tolist()
    body_text = seg.text.to_numpy(zero_copy_only=False)
    frames, slices, bodies, doc_last = [], [], [], {}
    at = 0
    for k, r in enumerate(pdf.itertuples(index=False)):
        lo, hi = bounds[k], bounds[k + 1]
        if lo == hi:
            continue
        pre, post = list(r.halo_pre), list(r.halo_post)
        n_pre, n_body, n_post = len(pre), hi - lo, len(post)
        n = n_pre + n_body + n_post
        # document-global block numbers: the halo carries its original
        # identity; body blocks are chunk-contained, so the chunk's block
        # ordinals + the block offset reproduce the original ones (single
        # page, as in the fused path)
        num = np.concatenate([
            np.array(_halo(pre, "block_no"), dtype=np.int64) + 1,
            seg.block_ord[lo:hi] + (r.block_offset + 1),
            np.array(_halo(post, "block_no"), dtype=np.int64) + 1,
        ])
        # frame-edge adjacency from the halo's true neighbors
        prev_num = np.roll(num, 1)
        prev_num[0] = _neighbor(pre[:1], "prev_block_no")
        next_num = np.roll(num, -1)
        next_num[-1] = _neighbor(post[-1:], "next_block_no")
        frames.append({
            "url": np.full(n, r.url, dtype=object),
            "line_no": np.concatenate([
                np.arange(r.line_offset - n_pre, r.line_offset) + 1,
                seg.line_no[lo:hi] + r.line_offset,
                np.arange(n_post) + r.line_offset + n_body + 1,
            ]),
            "page": np.ones(n, dtype=np.int64),
            "block_id": num,
            "llx": np.concatenate([
                _halo(pre, "block_llx"), seg.block_llx[lo:hi],
                _halo(post, "block_llx"),
            ]),
            "line_llx": np.concatenate([
                _halo(pre, "line_llx"), seg.line_llx[lo:hi],
                _halo(post, "line_llx"),
            ]),
            "text": np.concatenate([
                np.array(_halo(pre, "text"), dtype=object),
                body_text[lo:hi],
                np.array(_halo(post, "text"), dtype=object),
            ]),
            "prev_block_id": prev_num,
            "next_block_id": next_num,
            "doc_llx_mode": np.full(n, r.doc_llx_mode),
        })
        slices.append((r.url, at, at + n))
        # halo rows give context only; spans come from the body
        bodies.append((r.url, at + n_pre, at + n_pre + n_body))
        doc_last[r.url] = r.doc_last_line
        at += n
    if not frames:
        return pd.DataFrame(columns=_SPAN_COLS + ["_doc_last"])
    c = {k: np.concatenate([f[k] for f in frames]) for k in frames[0]}
    for k in ("block_id", "prev_block_id", "next_block_id"):
        c[k] = _block_keys(c[k])
    labels = label_documents(_plain_frame(c), slices, lex, cfg, model)
    out = pd.DataFrame(
        spans_from_labels(
            c["url"], c["line_no"], c["block_id"], c["text"], labels,
            bodies, flush_cfg,
        ),
        columns=_SPAN_COLS,
    )
    out["_doc_last"] = out["url"].map(doc_last)
    return out


def place_chunks(chunks: DataFrame, n: int) -> DataFrame:
    """Spread chunk rows over ``n`` partitions by placement, not hashing:
    chunk ``k`` of a document goes to partition ``(hash(url) + k) mod n``.
    A document's chunks take consecutive partitions, so no partition
    holds two chunks of one document until it has more than ``n`` chunks,
    and then at most ⌈chunks / n⌉.  Hashing (url, chunk_no) into bins
    instead can stack two chunks in one task while other tasks stay
    empty."""
    slot = F.pmod(
        F.hash("url").cast("long") + F.col("chunk_no"), F.lit(n)
    ).cast("int")
    return chunks.repartitionById(n, slot)


def chunking_refusal(ctx: DetectContext) -> str | None:
    """Why this model/config cannot be chunked (None = chunkable).
    Shared by detect_spans_chunked (raises) and detect_spans_auto
    (falls back to the fused whole-document path)."""
    probe = ModelWeights.from_broadcastable(ctx.model_bc.value)
    if ctx.cfg.prev_tag and any(
        k.startswith("prev_tag_") for k in probe.base_index
    ):
        return (
            "detect_spans_chunked cannot chunk a sequential (prev_tag) "
            "model — use the whole-document paths"
        )
    if ctx.cfg.word_overlap:
        # The 2-line pre-halo gives the first halo line no previous line,
        # so its overlap features (and the first body line's prev_prev_
        # context) can diverge from the fused path. Refuse rather than
        # silently mis-score.
        return (
            "detect_spans_chunked does not support cfg.word_overlap — "
            "overlap features need unbounded backward context; use the "
            "whole-document paths"
        )
    return None


def detect_spans_chunked(
    pages: DataFrame,
    ctx: DetectContext,
    chunk_lines: int = 20_000,
    mega_doc_chars: int = 1_000_000,
) -> DataFrame:
    """Skew-safe pages → spans with chunk-parallel everything (see module
    docstring). Small docs keep the zero-shuffle fused path."""
    cfg = ctx.cfg
    model_bc, lex_bc = ctx.model_bc, ctx.lex_bc
    reason = chunking_refusal(ctx)
    if reason:
        raise ValueError(reason)

    is_mega = (
        F.length(F.coalesce(F.col("text"), F.lit(""))) >= mega_doc_chars
    ) | (F.length(F.coalesce(F.col("html"), F.lit(b""))) >= mega_doc_chars)
    # Form-feed page breaks break the chunk frame's page=1 assumption —
    # mega docs containing \f (in text OR raw html, conservatively) fall
    # back to the fused whole-document path instead of silently diverging.
    has_ff = F.coalesce(F.col("text"), F.lit("")).contains("\f") | F.coalesce(
        F.col("html").cast("string"), F.lit("")
    ).contains("\f")
    is_chunkable = is_mega & ~has_ff
    # Mega docs are RARE by definition — running the split over the
    # input table's full partition count means hundreds of empty Python
    # tasks that each still pay the worker boot round-trip. Coalesce
    # (narrow, no shuffle) to ~cores tasks; the per-doc split work is
    # what parallelizes, not the scan. The chunk shuffle likewise gets
    # an explicit width: 2 waves per core beats inheriting
    # spark.sql.shuffle.partitions (128 mostly-empty tasks when a corpus
    # has a handful of megas).
    par = pages.sparkSession.sparkContext.defaultParallelism
    # The SMALL-doc branch needs the same treatment: a skewed corpus is
    # typically few docs + a straggler, so inheriting the input table's
    # partition count (e.g. 256) turns ~2k small docs into hundreds of
    # near-empty Python tasks whose boot round-trips dominate the branch
    # (measured: 2.39 s → ~1.1 s at 8 cores on the deep-skew ladder
    # corpus). Two waves per core keeps full parallelism.
    # The .repartition(par) of the (tiny) span rows is NOT for balance —
    # it puts the whole small-doc scan+score on the MAP side of an
    # exchange, making it an independent shuffle query stage that AQE
    # materializes CONCURRENTLY with the mega split stage. Without it
    # the fused branch is narrow all the way into the result stage and
    # runs only after split+score complete — measured: the whole job
    # serializes split(1.3 s, one busy task) → score → small+stitch,
    # with 7 idle cores during the split straggler.
    small_spans = detect_spans_fused(
        pages.filter(~is_chunkable).coalesce(max(2, 2 * par)), ctx
    ).repartition(max(2, par))
    chunks = split_mega_pages(
        pages.filter(is_chunkable).coalesce(max(2, par)),
        chunk_lines,
        cfg.html_main_content,
    )
    chunks = place_chunks(chunks, max(2, 2 * par))

    def score_chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = ModelWeights.from_broadcastable(model_bc.value)
        lex = lex_bc.value
        for pdf in batches:
            yield score_chunks(pdf, model, lex, cfg)

    chunk_spans_schema = StructType(
        list(SPANS_SCHEMA.fields) + [StructField("_doc_last", IntegerType())]
    )
    chunk_spans = chunks.mapInPandas(score_chunk, schema=chunk_spans_schema)

    # Stitch NATIVELY (round-5: was a groupBy(url).applyInPandas — the
    # deep-skew Amdahl decomposition put ~1 s of the serial tail in the
    # 4-stage split→balance→score→stitch barrier chain, and the stitch
    # stage's Python-worker boot + Arrow round-trip was the removable
    # part). The span relation is a few rows per document, so the whole
    # merge is a gaps-and-islands window + one aggregate: adjacent
    # chunk-local spans (prev end_line + 1 == start_line) join into one
    # island; per island the chunk pieces concatenate in start_line
    # order (spans are disjoint per url, so start_line is a total
    # order); the reference EOF quirk drops a doc's LAST merged span
    # when it touches the final line and flush is off. One exchange on
    # url — the island aggregate and the renumber window reuse its
    # partitioning.
    w = Window.partitionBy("url").orderBy("start_line")
    flagged = (
        chunk_spans.withColumn("_pe", F.lag("end_line").over(w))
        .withColumn(
            "_brk",
            F.when(
                F.col("_pe").isNull()
                | (F.col("_pe") + 1 != F.col("start_line")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    pieces = F.array_sort(
        F.collect_list(
            F.struct("start_line", "tags", "block_ids", "text")
        )
    )
    islands = flagged.groupBy("url", "_isl").agg(
        F.min("start_line").alias("start_line"),
        F.max("end_line").alias("end_line"),
        pieces.alias("_ps"),
        F.first("_doc_last").alias("_doc_last"),
    )
    merged = islands.select(
        "url",
        "start_line",
        "end_line",
        F.flatten(F.col("_ps.tags")).alias("tags"),
        F.flatten(F.col("_ps.block_ids")).alias("block_ids"),
        F.array_join(F.col("_ps.text"), "\n").alias("text"),
        "_doc_last",
    )
    if not cfg.flush_eof_span:
        w_url = Window.partitionBy("url")
        merged = merged.withColumn(
            "_last_start", F.max("start_line").over(w_url)
        ).filter(
            ~(
                (F.col("start_line") == F.col("_last_start"))
                & (F.col("end_line") >= F.col("_doc_last"))
            )
        )
    mega_spans = merged.select(
        "url",
        F.row_number().over(w).alias("span_no"),
        "start_line",
        "end_line",
        "tags",
        "block_ids",
        "text",
    )
    return small_spans.unionByName(mega_spans)


# Auto path-selection cost model. All quantities in characters of page
# content:
#   fused_wall   ≈ max(tot/C, mx) · rate
#   chunked_wall ≈ (seg_serial(mx) ≈ 0.2·mx + ~1.5·tot/C) · rate + fixed
# ⇒ chunk pays only when the straggler's scoring time clears both its
# fair share and the chunk machinery's fixed overhead (split pass +
# chunk shuffle + stitch ≈ 8M chars of scoring). Re-measured round 3
# at local[8] AFTER the worker boot-tax fix (pydaemon) + the coalesced
# split (both paths were previously carrying ~6 s of hidden per-task
# boot): ten 4M-char megas — fused 6.4 s vs chunked 8.1 s (fused
# correctly chosen); one 16M-char mega — fused 13.6 s vs chunked 6.6 s
# (chunked correctly chosen). Span counts bit-identical across paths.
# The Arrow feature kernel and the Arrow segmenter have since shrunk both
# sides; BENCH/PLANS.md re-measures fused vs chunked on the benchmark's
# skewed corpus. The constants stay, so that corpus keeps taking chunked.
AUTO_OVERHEAD_CHARS = 8_000_000
AUTO_FAIRSHARE_FACTOR = 0.6


def choose_detect_path(
    max_chars: int,
    total_chars: int,
    cores: int,
    overhead_chars: int = AUTO_OVERHEAD_CHARS,
) -> str:
    """'fused' or 'chunked' from corpus shape (pure function — unit
    tested). Chunk iff the biggest document exceeds a core's fair share
    by more than the chunk machinery's fixed overhead."""
    if cores < 2:
        return "fused"
    fair = total_chars / cores
    if max_chars > AUTO_FAIRSHARE_FACTOR * fair + overhead_chars:
        return "chunked"
    return "fused"


def corpus_char_stats(pages: DataFrame) -> tuple[int, int]:
    """(max_chars, total_chars) of page content — ONE narrow aggregate.
    At warehouse scale these are table statistics (ANALYZE TABLE /
    Iceberg column metrics); compute once and pass to detect_spans_auto
    rather than re-scanning per invocation."""
    ln = F.greatest(
        F.length(F.coalesce(F.col("text"), F.lit(""))),
        F.length(F.coalesce(F.col("html"), F.lit(b""))),
    )
    st = pages.select(
        F.max(ln).alias("mx"), F.sum(ln).alias("tot")
    ).collect()[0]
    return int(st["mx"] or 0), int(st["tot"] or 0)


def detect_spans_auto(
    pages: DataFrame,
    ctx: DetectContext,
    cores: int | None = None,
    overhead_chars: int = AUTO_OVERHEAD_CHARS,
    stats: "tuple[int, int] | None" = None,
) -> DataFrame:
    """Skew-aware pages → spans: pick fused vs chunked from the corpus
    shape instead of always paying chunk overhead.

    Corpus shape comes from ``stats=(max_chars, total_chars)`` when the
    caller has table statistics (the warehouse case — Iceberg column
    metrics are free), else from one narrow ``corpus_char_stats`` pass.
    The decision feeds ``choose_detect_path``; models the chunk frame
    cannot reproduce (sequential decode, word_overlap) always take the
    fused path. When chunking wins, the chunk size spreads the biggest
    document over ~2 chunks per core (floor 2,500 lines so per-chunk
    overhead stays amortized), and only docs beyond twice their fair
    share are chunked.

    A straggler-first rearrangement (round-robin the big docs into the
    stage's first partitions so they start at t=0 — LPT via partition
    order) was measured and REJECTED: the repartition introduces a
    stage barrier plus a full extra scan, costing ~2× more than the
    packing win at realistic skew (8 cores, ten 4M-char megas: plain
    5.1 s vs rearranged 10.0 s, identical spans). With hundreds of
    partitions the scheduler's dynamic packing already absorbs most of
    the straggler tail; the packing bound that remains is the corpus's
    own (see BENCH/BASELINE.md).
    """
    spark = pages.sparkSession
    cores = cores or spark.sparkContext.defaultParallelism
    mx, tot = stats if stats is not None else corpus_char_stats(pages)

    if (
        chunking_refusal(ctx) is None
        and choose_detect_path(mx, tot, cores, overhead_chars) == "chunked"
    ):
        est_mx_lines = max(mx // 40, 1)  # ~40 chars/line of web text
        chunk_lines = max(2_500, est_mx_lines // (2 * cores))
        mega_doc_chars = max(int(2 * tot / cores), 200_000)
        return detect_spans_chunked(
            pages, ctx, chunk_lines=chunk_lines,
            mega_doc_chars=mega_doc_chars,
        )

    return detect_spans_fused(pages, ctx)
