"""Quality-parity regression (BASELINE.md): self-evaluation of the
extracted pretrained model on the reference sample freki docs — pinned
metrics; any feature/scoring semantics drift shows up here."""

import pytest

from igtdetect_spark.config import REF_MODEL_PATH, REF_SAMPLE_TEST, REF_SAMPLE_TRAIN
from igtdetect_spark.flagship import get_lexicons
from igtdetect_spark.refmodel import load_reference_model

from conftest import REF_LEXICON_FILES, needs_reference


@needs_reference(
    REF_MODEL_PATH, REF_SAMPLE_TEST, REF_SAMPLE_TRAIN, *REF_LEXICON_FILES
)
def test_selfeval_sample_docs_pinned(spark):
    from igtdetect_spark.operators.score import score_lines
    from igtdetect_spark.operators.segment import segment_freki_files
    from igtdetect_spark.plans.pipeline import DetectContext
    from igtdetect_spark.plans.selfeval import evaluate_lines

    ctx = DetectContext(
        spark, load_reference_model(REF_MODEL_PATH), get_lexicons()
    )
    lines = segment_freki_files(spark, [REF_SAMPLE_TEST, REF_SAMPLE_TRAIN])
    scored = score_lines(lines, ctx.model_bc, ctx.lex_bc, ctx.cfg)
    res = evaluate_lines(scored, lines, ctx.cfg)

    # pinned from the verified oracle-parity build (2026-08-16)
    assert res.labels.accuracy == pytest.approx(0.890417, abs=1e-5)
    assert res.labels.non_o_precision == pytest.approx(0.900000, abs=1e-5)
    assert res.labels.non_o_recall == pytest.approx(0.019149, abs=1e-5)
    assert res.spans.n_system == 8
    assert res.spans.n_gold == 151
    assert res.spans.partial_p == pytest.approx(0.8750, abs=1e-4)
    assert "Classifiation Acc: 0.89" in res.report  # reference's own typo
    # auto-span section (gold spans = contiguous non-O gold runs)
    assert res.auto_spans is not None
    assert res.auto_spans.n_system == 8
    # adjacent distinct span_ids merge into one contiguous run → fewer
    # auto gold spans than span_id gold spans (151 → 88 on the samples)
    assert res.auto_spans.n_gold == 88
    assert "--- Auto-Spans ---" in res.report


def test_evaluate_lines_scores_each_line_once(spark, lexicons, tmp_path):
    """``evaluate_lines`` runs about ten Spark actions over its ``pred``
    input; a ``score_lines`` result passed in must still score every line
    exactly once. Hermetic: 12 synthetic gold-tagged freki docs, the
    synthetic model and the benchmark's seeded lexicons."""
    from igtdetect_spark.flagship import get_synthetic_model
    from igtdetect_spark.operators.score import score_lines
    from igtdetect_spark.operators.segment import segment_freki_files
    from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
    from igtdetect_spark.plans.pipeline import DetectContext
    from igtdetect_spark.plans.selfeval import evaluate_lines

    paths = []
    for d in make_corpus(12, html_every=0):
        path = tmp_path / f"{d.url.rsplit('/', 1)[1]}.freki"
        path.write_text(
            doc_from_text(d.url, d.text, d.gold_tags).render(),
            encoding="utf-8",
        )
        paths.append(str(path))
    lines = segment_freki_files(spark, paths).cache()
    n_lines = lines.count()

    scored_rows = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            scored_rows.add(len(b))
            yield b

    ctx = DetectContext(spark, get_synthetic_model(), lexicons)
    scored = score_lines(lines, ctx.model_bc, ctx.lex_bc, ctx.cfg)
    res = evaluate_lines(
        scored.mapInPandas(count, scored.schema), lines, ctx.cfg
    )
    lines.unpersist()

    assert res.labels is not None and "--- Auto-Spans ---" in res.report
    assert n_lines > 0
    assert scored_rows.value == n_lines
