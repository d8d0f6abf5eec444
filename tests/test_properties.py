"""Property-based tests (hypothesis) for the engine invariants promised in
SURVEY.md §5: span-grouping algebra, label-normalizer algebra, evaluation
metric bounds, segmentation invariants, svmlight round-trip."""

import re

from hypothesis import given, settings, strategies as st

from igtdetect_spark.config import DEFAULT_CONFIG, PipelineConfig
from igtdetect_spark.labels import basic_label, handle_label
from igtdetect_spark.oracle.corpus import doc_from_text
from igtdetect_spark.oracle.evaluate import (
    LabelEvaluator,
    SpanEvaluator,
    partial_matches,
)
from igtdetect_spark.oracle.pipeline import assign_spans, detect_spans
from igtdetect_spark.oracle.freki import safe_mode
from igtdetect_spark.segmentation import segment_batch, segment_text

# --- strategies -----------------------------------------------------------

tags = st.sampled_from(["O", "L", "G", "T", "M", "B-L", "I-G", "*L", "M+AC"])
tag_seqs = st.lists(tags, min_size=0, max_size=40)

# well-formed labels per the observed grammar (SURVEY §1.1): optional '*',
# optional B-/I-, 1-3 '-'-joined classes, optional +FLAG suffixes
well_formed_labels = st.builds(
    lambda noisy, bi, classes, flags: noisy + bi + "-".join(classes) + flags,
    st.sampled_from(["", "*"]),
    st.sampled_from(["", "B-", "I-"]),
    st.lists(st.sampled_from("OLGTM"), min_size=1, max_size=3),
    st.sampled_from(["", "+AC", "+LN", "+AC+LN", "+CN"]),
)
# free-form strings for crash-safety checks (no semantic assertions)
label_alphabet = st.text(
    alphabet="OLGTMB-I*+AC", min_size=1, max_size=8
).filter(lambda s: not s.startswith("-"))

text_lines = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\r"),
    max_size=60,
)
doc_texts = st.lists(text_lines, max_size=30).map("\n".join)


# --- span grouping --------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(tag_seqs)
def test_assign_spans_invariants(seq):
    """Span ids partition exactly the non-O lines; ids are dense s1..sk in
    order; every span is a maximal run unless split by B-."""
    if not seq:
        return  # tags and lines are positionally zipped (reference contract)
    text = "\n".join(f"line {i}" for i in range(len(seq)))
    doc = doc_from_text("u", text)
    if len(list(doc.lines())) != len(seq):
        return  # blank-line collapse; skip degenerate
    assign_spans(doc, seq)
    sids = [ln.span_id for ln in doc.lines()][: len(seq)]
    for t, s in zip(seq, sids):
        assert (s is None) == ("O" in t)
    seen = []
    for s in sids:
        if s is not None and (not seen or seen[-1] != s):
            seen.append(s)
    assert seen == [f"s{i + 1}" for i in range(len(seen))]


@settings(max_examples=200, deadline=None)
@given(tag_seqs)
def test_detect_spans_invariants(seq):
    n = len(seq)
    text = "\n".join(f"line {i}" for i in range(n)) or "x"
    doc = doc_from_text("u", text)
    lines = list(doc.lines())
    if len(lines) != max(n, 1):
        return
    spans = detect_spans(doc, seq if seq else ["O"])
    # spans ordered, disjoint, within bounds, all tags non-O
    prev_end = 0
    for sp in spans:
        assert sp.start_line > prev_end
        assert sp.start_line <= sp.end_line <= n
        assert all(t != "O" for t in sp.tags)
        prev_end = sp.end_line
    # EOF quirk: a trailing non-O run is dropped
    if seq and seq[-1] != "O":
        assert all(sp.end_line < n for sp in spans) or not spans
    # flush mode recovers it
    spans2 = detect_spans(
        doc, seq if seq else ["O"], DEFAULT_CONFIG.with_(flush_eof_span=True)
    )
    n_runs = sum(
        1 for i, t in enumerate(seq) if t != "O" and (i == 0 or seq[i - 1] == "O")
    )
    assert len(spans2) == n_runs


# --- label grammar ---------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(well_formed_labels)
def test_handle_label_idempotent_default(label):
    once = handle_label(label, DEFAULT_CONFIG)
    twice = handle_label(once, DEFAULT_CONFIG)
    assert twice == once


@settings(max_examples=300, deadline=None)
@given(well_formed_labels)
def test_basic_label_is_single_class(label):
    assert basic_label(label) in set("OLGTM")


@settings(max_examples=300, deadline=None)
@given(label_alphabet)
def test_handle_label_total_on_garbage(label):
    """Never crashes on malformed labels (the reference is equally
    permissive — no validation anywhere)."""
    for cfg in (
        DEFAULT_CONFIG,
        DEFAULT_CONFIG.with_(use_bi_labels=True, use_multi_labels=True,
                            strip_flags=False, skip_noisy=False),
    ):
        out = handle_label(label, cfg)
        assert isinstance(out, str)


# --- evaluation bounds ------------------------------------------------------

span_dicts = st.dictionaries(
    st.integers(0, 20).map(lambda i: f"s{i}"),
    st.tuples(st.integers(1, 50), st.integers(0, 10)).map(
        lambda t: tuple(range(t[0], t[0] + t[1] + 1))
    ),
    max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(span_dicts, span_dicts)
def test_span_metrics_bounds(eval_spans, gold_spans):
    se = SpanEvaluator()
    se.add_spans(eval_spans, gold_spans)
    for p, r, f in (se.exact_prf(), se.partial_prf()):
        assert 0 <= p <= 1 and 0 <= r <= 1 and 0 <= f <= 1
    # precision-side matches never exceed system spans; recall-side never
    # exceed gold spans (the break caps at one match per left span)
    assert se.partial_precision <= se.system_spans
    assert se.partial_recall <= se.gold_spans
    assert se.exact <= min(se.system_spans, se.gold_spans)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(tags, tags), max_size=50))
def test_label_evaluator_bounds(pairs):
    le = LabelEvaluator()
    for g, p in pairs:
        le.add_eval_pair(basic_label(g), basic_label(p))
    p, r, f = le.prf(exclude=["O"])
    assert 0 <= p <= 1 and 0 <= r <= 1 and 0 <= f <= 1


# --- segmentation ------------------------------------------------------------

# Separators, Python-only whitespace (\x1c-\x1f, \x85, NBSP, U+1680,
# U+2028, U+3000 are str.isspace but not ASCII \s) and a few letters,
# one of which (İ) changes length under lowercasing.
hostile_docs = st.text(
    alphabet=" \t\r\n\f\x0b\x1c\x1d\x1e\x1f\x85\xa0\u1680\u2028\u3000abéİ",
    max_size=80,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(hostile_docs, min_size=1, max_size=6))
def test_segmentation_columnar_matches_object(docs):
    """segment_batch over a multi-document batch equals segment_text per
    document in every column, the llx mode equals safe_mode, and each
    line's offsets cut its raw text out of the document."""
    c = segment_batch(docs)
    bounds = c.doc_bounds(len(docs))
    block_ids = c.block_ids()
    text = c.text.to_pylist()
    modes = c.llx_modes(len(docs))
    start, stop = c.offsets()
    for d, doc in enumerate(docs):
        want = segment_text(doc)
        a, b = bounds[d], bounds[d + 1]
        assert [s.line_no for s in want] == c.line_no[a:b].tolist()
        assert [s.page for s in want] == c.page[a:b].tolist()
        assert [s.block_id for s in want] == block_ids[a:b].tolist()
        assert [s.block_llx for s in want] == c.block_llx[a:b].tolist()
        assert [s.line_llx for s in want] == c.line_llx[a:b].tolist()
        assert [s.text for s in want] == text[a:b]
        assert [
            doc[i:j].rstrip("\r") for i, j in zip(start[a:b], stop[a:b])
        ] == text[a:b]
        if want:
            assert modes[d] == safe_mode([s.block_llx for s in want])


@settings(max_examples=200, deadline=None)
@given(doc_texts)
def test_segmentation_invariants(text):
    segs = segment_text(text)
    # line numbers dense 1..n; non-blank lines preserved in order
    assert [s.line_no for s in segs] == list(range(1, len(segs) + 1))
    non_blank = [
        l.rstrip("\r") for l in text.split("\n")
        if l.rstrip("\r").strip() != "" and "\f" not in l
    ]
    if "\f" not in text:
        assert [s.text for s in segs] == non_blank
    # block ids group consecutive lines
    for a, b in zip(segs, segs[1:]):
        if a.block_id == b.block_id:
            assert a.page == b.page


# --- svmlight round-trip -----------------------------------------------------

feat_names = st.lists(
    st.text(alphabet="abcdef_ghij0123456789", min_size=1, max_size=12).filter(
        lambda s: ":" not in s
    ),
    max_size=8,
    unique=True,
)


@settings(max_examples=200, deadline=None)
@given(label_alphabet, feat_names)
def test_svmlight_line_round_trip(label, names):
    from igtdetect_spark.featurespec import render_svmlight
    from igtdetect_spark.sources.svmlight import parse_svmlight_line

    feats = {n: True for n in names}
    line = render_svmlight(label, feats)
    lab2, feats2 = parse_svmlight_line(line)
    assert lab2 == label
    assert feats2 == sorted(names)


# --- round-2 kernels -------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(st.lists(text_lines, max_size=12))
def test_tokenize_series_matches_split_words(lines):
    """tokenize_series ≡ split_words on arbitrary unicode text (the
    findall-then-lowercase order, incl. codepoints whose lowercase
    expansion crosses \\w boundaries)."""
    import pandas as pd

    from igtdetect_spark.featurespec import split_words
    from igtdetect_spark.operators.vectorized import tokenize_series

    got = tokenize_series(pd.Series(lines, dtype=object))
    for raw, toks in zip(lines, got):
        assert toks == split_words(raw), repr(raw)


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.text(alphabet="ab c", max_size=30), min_size=0, max_size=10,
))
def test_simhash_batch_matches_definitional_loop(texts):
    """The vectorized simhash kernel equals the per-token/per-bit loop on
    arbitrary token multisets (incl. empty docs)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from igtdetect_spark.operators.dedup import simhash_batch

    def ref(t):
        toks = t.split()
        if not toks:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "big"
            )
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        v = 0
        for b in range(64):
            if acc[b] > 0:
                v |= 1 << b
        return int(np.uint64(v).astype(np.int64))

    got = simhash_batch(pd.Series(texts, dtype=object))
    assert [int(x) for x in got] == [ref(t) for t in texts]


@settings(max_examples=100, deadline=None)
@given(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80,
))
def test_bpe_split_re2_java_python_agree(text):
    """The BPE-ish pre-tokenizer pattern splits identically under
    Python re (spec), RE2/DuckDB (oracle engine) — the cross-engine
    contract behind subword_stats."""
    import duckdb

    from igtdetect_spark.operators.text_analysis import BPE_SPLIT_RE

    lc = text.lower()
    py = re.findall(BPE_SPLIT_RE, lc)
    duck = duckdb.execute(
        "SELECT regexp_extract_all(?, '"
        + BPE_SPLIT_RE.replace("'", "''") + "', 0)",
        [lc],
    ).fetchone()[0]
    assert py == duck, repr(text)
