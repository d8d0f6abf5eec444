"""Corpus-cleaning operators for LLM training-data pipelines: C4-style
rule cleaning, corpus-level duplicated-line removal (RefinedWeb-style),
and PII redaction.

All three are fully native column expressions (whole-stage codegen, no
Python in the hot path) and each has a DuckDB-SQL mirror in
``entry_queries``.  They are generic over any corpus whose documents
carry newline-separated lines; the driver's synthetic documents are
single-line word soup, so the graded queries derive deterministic
pseudo-lines (fixed-width token chunks) identically on both engines —
see :func:`pseudo_lines` / :func:`paged_text`.

Scale shape:

* :func:`c4_clean` and :func:`pii_redact` are per-row map operators —
  ZERO shuffles, they pipeline into whatever scan feeds them.
* :func:`corpus_line_dedup` shuffles twice (the corpus-wide line-count
  aggregate and the per-doc reassembly) plus one join against the
  duplicated-line relation.  That relation's cardinality is
  corpus-bounded (every duplicated line occurs in the text), so the
  join strategy is chosen by ``operators.scale.maybe_broadcast`` with
  the CORPUS scan bytes as the sound upper bound — broadcast at bench
  scale, shuffle-hash at 100 TB, never an unconditional broadcast of a
  corpus-derived relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import maybe_broadcast, spread_small_scan
from .text_analysis import WS_CLASS

#: C4 (Raffel et al. 2020, §2.2) line-keep rule: terminal punctuation.
#: Public-paper semantics; the en-dash/diacritic quirks of the IGT
#: feature set (featurespec) do NOT apply here — this is the generic
#: web-cleaning family, not the reference feature mirror.
TERMINAL_PUNCT_RE = r'[.!?"]$'

# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs) so the Spark kernels and the DuckDB oracle
# agree byte-for-byte.  \b is supported by both engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"


def _words(line):
    """Whitespace tokens of one line, empties dropped (both engines
    split ``''`` into ``['']`` — the filter keeps the count at 0)."""
    toks = F.split(F.trim(F.regexp_replace(line, WS_CLASS, " ")), " ")
    return F.filter(toks, lambda w: F.length(w) > 0)


def tokenized(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_id, tk: array<string>) — whitespace tokens per document."""
    return docs.select(
        F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("tk")
    )


def pseudo_lines(docs: DataFrame, tokens_per_line: int = 8,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, pos, line): deterministic pseudo-lines — fixed-width
    chunks of ``tokens_per_line`` whitespace tokens, space-joined, in
    document order.  The driver's synthetic documents carry no newlines,
    so line-structured operators are graded over this derivation; both
    the Spark plan and the DuckDB oracle chunk identically (1-based
    token index ``i`` → chunk ``(i-1) // k``), making every downstream
    comparison exact.  Trailing chunks may be short (< k tokens)."""
    docs = spread_small_scan(docs, id_col)
    k = tokens_per_line
    # tokenize into a NAMED column first — slicing the tokenizer
    # expression inside the transform lambda would re-tokenize the
    # whole document once per chunk (the O(tokens²) lambda trap,
    # PLANS.md); an attribute reference is evaluated once per row.
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _words(F.col(text_col)).alias("_tk"),
    )
    tk = F.col("_tk")
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(
                (F.ceil(F.size(tk) / F.lit(k)) - 1).cast("int"), F.lit(0)
            ),
        ),
        lambda i: F.array_join(F.slice(tk, i * k + 1, k), " "),
    )
    return base.select(
        "doc_id", F.posexplode(chunks).alias("pos", "line")
    )


def paged_text(docs: DataFrame, tokens_per_line: int = 8,
               punct_every: int = 3, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, text): documents re-rendered as newline-joined
    pseudo-lines with a deterministic terminal ``.`` on every line
    where ``(doc_id + pos) % punct_every == 0`` — gives the C4 rules a
    corpus where every gate (punctuation, word count, page size) has
    both passing and failing population.  Mirrored verbatim in SQL."""
    docs = spread_small_scan(docs, id_col)
    k, p = tokens_per_line, punct_every
    # same named-column discipline as pseudo_lines (lambda trap)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _words(F.col(text_col)).alias("_tk"),
    )
    tk = F.col("_tk")
    lines = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(
                (F.ceil(F.size(tk) / F.lit(k)) - 1).cast("int"), F.lit(0)
            ),
        ),
        lambda i: F.concat(
            F.array_join(F.slice(tk, i * k + 1, k), " "),
            F.when((F.col("doc_id") + i) % p == 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    return base.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )


def c4_clean(docs: DataFrame, min_words: int = 5, min_kept_lines: int = 3,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """C4-style rule cleaning (Raffel et al. 2020, §2.2), per page:

    * keep only lines that end in terminal punctuation AND have at
      least ``min_words`` whitespace words;
    * drop the whole page if fewer than ``min_kept_lines`` lines
      survive, or the page contains ``lorem ipsum`` (case-insensitive)
      or a ``{`` (code cue).

    Output: (doc_id, clean_text, n_lines, n_kept, has_lorem INT,
    has_brace INT, page_kept INT); dropped pages emit ``clean_text=''``.
    ZERO shuffles — a pure per-row map that pipelines into the scan;
    at 10^12 docs this is the cheapest gate in the funnel and belongs
    before every shuffling stage."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    # staged named columns: the kept-lines filter is referenced three
    # times (size, join, gate) — as a raw expression each reference
    # would re-run the per-line regex filter (lambda trap, PLANS.md)
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("_t"),
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)).alias(
            "_lines"
        ),
    ).select(
        "doc_id", "_t", "_lines",
        F.filter(
            F.col("_lines"),
            lambda l: l.rlike(TERMINAL_PUNCT_RE)
            & (F.size(_words(l)) >= min_words),
        ).alias("_kept"),
    )
    has_lorem = F.lower(F.col("_t")).contains("lorem ipsum")
    has_brace = F.col("_t").contains("{")
    page_kept = (
        (F.size("_kept") >= min_kept_lines) & ~has_lorem & ~has_brace
    )
    return staged.select(
        "doc_id",
        F.when(page_kept, F.array_join("_kept", "\n"))
        .otherwise(F.lit(""))
        .alias("clean_text"),
        F.size("_lines").alias("n_lines"),
        F.size("_kept").alias("n_kept"),
        has_lorem.cast("int").alias("has_lorem"),
        has_brace.cast("int").alias("has_brace"),
        page_kept.cast("int").alias("page_kept"),
    )


def corpus_line_dedup(lines: DataFrame, min_docs: int = 2,
                      corpus_bound_bytes: int = None) -> DataFrame:
    """RefinedWeb/CCNet-style corpus-level duplicated-line removal:
    any non-empty line occurring in ≥ ``min_docs`` DISTINCT documents
    (boilerplate: nav bars, cookie banners, license footers) is removed
    from EVERY document; remaining lines are reassembled in original
    order.

    Input: (doc_id, pos, line) — e.g. :func:`pseudo_lines` or a real
    newline split.  Output: (doc_id, clean_text, n_lines, n_removed).

    Plan: one corpus-wide count aggregate on ``line`` (map-side partial
    combine), one join of the line stream against the duplicated-line
    relation, one per-doc reassembly aggregate.  The duplicated-line
    relation is corpus-derived, so the join is broadcast XOR
    shuffle-hash via ``maybe_broadcast`` with ``corpus_bound_bytes``
    (the SOURCE scan's Catalyst size) as the sound upper bound — the
    same discipline as the term-statistics queries; pass the corpus
    scan's ``plan_size_bytes`` from the caller."""
    if corpus_bound_bytes is None:
        from .scale import plan_size_bytes

        corpus_bound_bytes = plan_size_bytes(lines)
    dup = (
        lines.filter(F.length("line") > 0)
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("line", F.lit(1).alias("_dup"))
    )
    marked = lines.join(
        maybe_broadcast(dup, bound_bytes=corpus_bound_bytes), "line", "left"
    )
    kept_struct = F.when(
        F.col("_dup").isNull(), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_dup").isNotNull().cast("long")).alias(
                "n_removed"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select("doc_id", "clean_text", "n_lines", "n_removed")
    )


def pii_redact(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII redaction over (doc_id, text): emails → ``<EMAIL>``, IPv4
    addresses → ``<IP>``, ``+N-NNN-NNNN`` phone numbers → ``<PHONE>``,
    applied in that order (each count is taken on the text AFTER the
    previous redaction so an address inside an email is never
    double-counted; the oracle mirrors the same cascade).

    Output: (doc_id, redacted_text, n_emails, n_phones, n_ips).
    ZERO shuffles — three chained native ``regexp_replace`` calls
    inside one codegen stage; patterns are in the Java∩RE2 subset so
    Spark and DuckDB agree byte-for-byte."""
    docs = spread_small_scan(docs, id_col)
    t = F.coalesce(F.col(text_col), F.lit(""))
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    after_phone = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        after_phone.alias("redacted_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(after_ip, F.lit(PHONE_RE))
        .cast("long")
        .alias("n_phones"),
        F.regexp_count(after_email, F.lit(IPV4_RE))
        .cast("long")
        .alias("n_ips"),
    )


def span_corruption(
    docs: DataFrame,
    block_tokens: int = 3,
    mask_nibbles: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span-corruption sample prep (Raffel et al. 2020):
    mask token spans, replace each with an ordinal sentinel in the
    INPUT, and emit sentinel+content pairs as the TARGET — the
    denoising objective's data layout, built entirely from native
    expressions.

    Determinism instead of RNG (cross-engine bit-exactness): tokens
    are grouped into fixed ``block_tokens``-token blocks and a whole
    block masks iff ``md5(doc:block)``'s first nibble <
    ``mask_nibbles`` (3/16 ≈ 18.75% of tokens, spans of mean length
    ``block_tokens`` that naturally merge when adjacent blocks both
    mask — the same span-length/mask-rate shape as the sampled
    original, reproducible on any engine).  The closing no-content
    sentinel T5 appends is omitted (disclosed; it is a constant the
    tokenizer layer can add).

    Scale shape: one token flat map, gaps-and-islands over the masked
    tokens (one window pass partitioned by doc), one per-doc
    assembly aggregate — the sort_array(collect_list(struct(i, tok)))
    ordered-assembly idiom every sink here uses.  No Python, no
    join against anything corpus-global.

    Output: (doc_id, n_spans, masked_tokens, inputs, targets).

    Round 6: the whole mask → islands → interleave → assembly chain is
    a pure per-document function, so it runs as ONE Arrow kernel —
    zero shuffles, zero persisted intermediates — instead of the
    exploded-token window/aggregate pipeline (two cached corpus-token
    relations, two windows, three ordered assemblies; measured 6.8 s →
    ~1.5 s at sf1.0, guide §4.2). Bit-exactness is by construction:
    the mask nibble is int(md5(f"{doc_id}:{block}")[0], 16) — exactly
    conv(substring(md5(concat(...)),1,1),16,10) — every join/sentinel
    is integer/string concatenation, and the interleave orders by the
    unique 1-based token index exactly like the sort_array assembly.
    Docs with no tokens (incl. NULL text) emit nothing, matching the
    plain posexplode. Pinned by the DuckDB oracle."""
    import hashlib
    import re as _re

    import pandas as _pd

    docs = spread_small_scan(docs, id_col)
    B, M = int(block_tokens), int(mask_nibbles)

    def _corrupt(batches):
        ws = _re.compile(WS_CLASS)
        for pdf in batches:
            ids, n_spans, masked_tokens, inputs, targets = \
                [], [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [w for w in
                        ws.sub(" ", text).strip(" ").split(" ") if w]
                if not toks:
                    continue
                prefix = f"{doc_id}:"
                # one md5 per BLOCK (the mask is constant within one)
                n_blocks = (len(toks) + B - 1) // B
                blk_masked = [
                    int(hashlib.md5(
                        f"{prefix}{b}".encode()
                    ).hexdigest()[0], 16) < M
                    for b in range(n_blocks)
                ]
                inp, spans, cur = [], [], None
                for p, tok in enumerate(toks):
                    if blk_masked[p // B]:
                        if cur is None:
                            cur = [tok]
                            spans.append(cur)
                            inp.append(f"<extra_id_{len(spans) - 1}>")
                        else:
                            cur.append(tok)
                    else:
                        cur = None
                        inp.append(tok)
                ids.append(doc_id)
                n_spans.append(len(spans))
                masked_tokens.append(sum(len(s) for s in spans))
                inputs.append(" ".join(inp))
                targets.append(" ".join(
                    f"<extra_id_{k}> " + " ".join(s)
                    for k, s in enumerate(spans)
                ))
            yield _pd.DataFrame({
                "doc_id": _pd.array(ids, dtype="Int64"),
                "n_spans": _pd.array(n_spans, dtype="Int64"),
                "masked_tokens": _pd.array(masked_tokens, dtype="Int64"),
                "inputs": inputs,
                "targets": targets,
            })

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _corrupt,
        "doc_id long, n_spans long, masked_tokens long, "
        "inputs string, targets string",
    )
