"""Config-gate plumbing: non-default PipelineConfig variants flow through
the full Spark stack identically to the oracle (fused pipeline vs oracle
per-doc run under the same cfg)."""

import pytest

from igtdetect_spark.config import DEFAULT_CONFIG, T_HAS_DIA, T_HAS_UNI
from igtdetect_spark.flagship import get_synthetic_model
from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
from igtdetect_spark.oracle.pipeline import (
    detect_spans,
    detected_text,
    extract_doc_features,
    score_doc,
)
from igtdetect_spark.segmentation import extract_page_text

VARIANTS = {
    "word_overlap": DEFAULT_CONFIG.with_(word_overlap=True),
    "flush_eof": DEFAULT_CONFIG.with_(flush_eof_span=True),
    "reduced_feats": DEFAULT_CONFIG.with_(
        enabled_text_feats=frozenset(
            f for f in DEFAULT_CONFIG.enabled_text_feats
            if f not in (T_HAS_DIA, T_HAS_UNI)
        ),
        freki_feats_enabled=False,
    ),
}


@pytest.mark.parametrize("name", sorted(VARIANTS))
def test_fused_matches_oracle_under_variant(spark, lexicons, name):
    from igtdetect_spark.plans.pipeline import (
        DetectContext,
        detect_spans_fused,
        detected_text_df,
    )
    from igtdetect_spark.sources.pages import synthetic_pages

    cfg = VARIANTS[name]
    model = get_synthetic_model()
    lex = lexicons

    want = {}
    for d in make_corpus(10):
        content = extract_page_text(d.html, d.text)
        doc = doc_from_text(d.url, content)
        inst = extract_doc_features(doc, lex, cfg)
        labels, _ = score_doc(inst, model, cfg)
        txt = detected_text(detect_spans(doc, labels, cfg))
        if txt:
            want[d.url] = txt

    ctx = DetectContext(spark, model, lex, cfg)
    pages = synthetic_pages(spark, 10)
    got = {
        r["url"]: r["detected_text"]
        for r in detected_text_df(detect_spans_fused(pages, ctx)).collect()
    }
    assert got == want, name
