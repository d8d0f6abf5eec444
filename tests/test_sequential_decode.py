"""Sequential greedy decode (prev_tag models): oracle vs Spark parity,
chunked-path refusal, and the prediction-feedback semantics (reference
cw.test with prev_label_func, igtdetect.py:1140-1146)."""

import numpy as np
import pytest

from igtdetect_spark.config import DEFAULT_CONFIG
from igtdetect_spark.labels import handle_label
from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus, make_doc
from igtdetect_spark.oracle.pipeline import extract_doc_features, score_doc
from igtdetect_spark.training import train_model

from conftest import lines_table_spans


@pytest.fixture(scope="module")
def seq_model(lexicons):
    """Model trained WITH the prev_tag feature → sequential decode."""
    fds, labels = [], []
    for d in make_corpus(30, seed=7):
        doc = doc_from_text(d.url, d.text, d.gold_tags)
        for li in extract_doc_features(doc, lexicons, DEFAULT_CONFIG):
            fds.append(li.feats)
            labels.append(li.norm_label)
    m = train_model(fds, labels, max_features=3000, iters=150)
    assert any(f.startswith("prev_tag_") for f in m.base_index)
    return m


def test_sequential_feedback_changes_predictions(seq_model, lexicons):
    """The decode must actually feed predictions forward: forcing
    cfg.prev_tag off (ignoring the learned prev_tag weights) must be able
    to change some prediction somewhere — and when it doesn't, the
    sequential path must still equal itself deterministically."""
    d = make_doc(300)
    doc = doc_from_text(d.url, d.text)
    inst = extract_doc_features(doc, lexicons, DEFAULT_CONFIG)
    seq1, _ = score_doc(inst, seq_model, DEFAULT_CONFIG)
    seq2, _ = score_doc(inst, seq_model, DEFAULT_CONFIG)
    assert seq1 == seq2  # deterministic
    # accuracy stays strong through the sequential path
    acc = sum(g == p for g, p in zip(d.gold_tags, seq1)) / len(seq1)
    assert acc >= 0.9


def test_spark_matches_oracle_sequential(spark, seq_model, lexicons):
    from igtdetect_spark.plans.pipeline import (
        DetectContext,
        classify_lines_fused,
        detect_spans_fused,
        detected_text_df,
    )
    from igtdetect_spark.operators.segment import segment_pages
    from igtdetect_spark.sources.pages import synthetic_pages
    from igtdetect_spark.oracle.pipeline import detect_spans, detected_text
    from igtdetect_spark.segmentation import extract_page_text

    ctx = DetectContext(spark, seq_model, lexicons)
    pages = synthetic_pages(spark, 15).cache()

    want_lines = {}
    want_text = {}
    for d in make_corpus(15):
        content = extract_page_text(d.html, d.text)
        doc = doc_from_text(d.url, content)
        inst = extract_doc_features(doc, lexicons, DEFAULT_CONFIG)
        labels, _ = score_doc(inst, seq_model, DEFAULT_CONFIG)
        want_lines[d.url] = labels
        txt = detected_text(detect_spans(doc, labels))
        if txt:
            want_text[d.url] = txt

    got_lines = {}
    for r in classify_lines_fused(pages, ctx).collect():
        got_lines.setdefault(r["url"], []).append((r["line_no"], r["pred"]))
    got_lines = {
        u: [p for _, p in sorted(v)] for u, v in got_lines.items()
    }
    assert got_lines == want_lines

    got_f = {
        r["url"]: r["detected_text"]
        for r in detected_text_df(detect_spans_fused(pages, ctx)).collect()
    }
    lines = segment_pages(pages, ctx.cfg.html_main_content)
    got_s = {
        r["url"]: r["detected_text"]
        for r in detected_text_df(lines_table_spans(lines, ctx)).collect()
    }
    assert got_f == want_text
    assert got_s == want_text


def test_chunked_refuses_sequential_model(spark, seq_model, lexicons):
    """Decode state cannot cross chunk boundaries: the chunked path
    refuses a prev_tag model, and auto falls back to the fused path on a
    corpus whose shape would otherwise pick chunked."""
    from igtdetect_spark.plans.chunked import (
        choose_detect_path,
        corpus_char_stats,
        detect_spans_auto,
        detect_spans_chunked,
    )
    from igtdetect_spark.plans.pipeline import DetectContext, detect_spans_fused
    from igtdetect_spark.sources.pages import synthetic_pages

    ctx = DetectContext(spark, seq_model, lexicons)
    pages = synthetic_pages(
        spark, 6, mega_doc_every=3, mega_doc_lines=2000
    ).cache()
    with pytest.raises(ValueError, match="sequential"):
        detect_spans_chunked(pages, ctx)

    cores = spark.sparkContext.defaultParallelism
    mx, tot = corpus_char_stats(pages)
    assert choose_detect_path(mx, tot, cores, overhead_chars=1_000) == "chunked"
    key = lambda r: tuple(
        tuple(v) if isinstance(v, list) else v for v in r
    )
    f = sorted(map(key, detect_spans_fused(pages, ctx).collect()))
    a = sorted(
        map(key, detect_spans_auto(pages, ctx, overhead_chars=1_000).collect())
    )
    assert a == f
    assert f


def test_flagship_model_is_batch_mode():
    from igtdetect_spark.flagship import get_synthetic_model

    m = get_synthetic_model()
    assert not any(f.startswith("prev_tag_") for f in m.base_index)
