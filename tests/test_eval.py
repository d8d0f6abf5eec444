"""Evaluation parity: Spark eval operators vs the oracle evaluators
(reference LabelEvaluator/SpanEvaluator semantics) on synthetic
predictions, plus edge cases (TB/V remap, length-mismatch rejection,
overlap asymmetry)."""

import pytest

from igtdetect_spark.flagship import get_synthetic_model
from igtdetect_spark.labels import handle_label
from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
from igtdetect_spark.oracle.evaluate import (
    LabelEvaluator,
    SpanEvaluator,
    partial_matches,
    remap_eval_label,
)
from igtdetect_spark.oracle.pipeline import (
    assign_spans,
    extract_doc_features,
    score_doc,
)

N_DOCS = 25


@pytest.fixture(scope="module")
def corpus_pred(lexicons):
    """Per-url (gold_tags, pred_tags, gold_spans, pred_spans) from the
    oracle pipeline on synthetic docs."""
    model = get_synthetic_model()
    lex = lexicons
    out = {}
    for d in make_corpus(N_DOCS, seed=99):
        doc = doc_from_text(d.url, d.text, d.gold_tags)
        gold_spans = doc.spans().copy()
        inst = extract_doc_features(doc, lex)
        pred, _ = score_doc(inst, model)
        assign_spans(doc, pred)
        pred_spans = doc.spans().copy()
        out[d.url] = (d.gold_tags, pred, gold_spans, pred_spans)
    return out


@pytest.fixture(scope="module")
def oracle_metrics(corpus_pred):
    le = LabelEvaluator()
    se = SpanEvaluator()
    for gold_tags, pred, gold_spans, pred_spans in corpus_pred.values():
        for g, p in zip(gold_tags, pred):
            le.add_eval_pair(handle_label(g), remap_eval_label(handle_label(p)))
        se.add_spans(pred_spans, gold_spans)
    return le, se


@pytest.fixture(scope="module")
def spark_dfs(spark, corpus_pred):
    gold_rows, pred_rows, gspan_rows, pspan_rows = [], [], [], []
    for url, (gold_tags, pred, gold_spans, pred_spans) in corpus_pred.items():
        for i, (g, p) in enumerate(zip(gold_tags, pred), start=1):
            gold_rows.append((url, i, g))
            pred_rows.append((url, i, p))
        for sid, tup in gold_spans.items():
            gspan_rows.append((url, sid, tup[0], tup[-1]))
        for sid, tup in pred_spans.items():
            pspan_rows.append((url, sid, tup[0], tup[-1]))
    gold = spark.createDataFrame(gold_rows, "url string, line_no int, tag string")
    pred = spark.createDataFrame(pred_rows, "url string, line_no int, pred string")
    gspans = spark.createDataFrame(
        gspan_rows, "url string, span_id string, start_line int, end_line int"
    )
    pspans = spark.createDataFrame(
        pspan_rows, "url string, span_id string, start_line int, end_line int"
    )
    return gold, pred, gspans, pspans


class TestLabelEval:
    def test_confusion_and_prf_match_oracle(self, spark, spark_dfs, oracle_metrics):
        from igtdetect_spark.operators.eval import (
            align_eval_gold,
            confusion_counts,
            label_metrics,
        )

        gold, pred, _, _ = spark_dfs
        le, _ = oracle_metrics
        aligned = align_eval_gold(pred, gold)
        counts = confusion_counts(aligned)
        got = {(r["gold"], r["pred"]): r["n"] for r in counts.collect()}
        want = {(g, p): n for g, p, n in le.counts()}
        assert got == want
        lm = label_metrics(counts)
        assert lm.accuracy == pytest.approx(le.precision(), abs=1e-12)
        p, r, f = le.prf(exclude=["O"])
        assert lm.non_o_precision == pytest.approx(p, abs=1e-12)
        assert lm.non_o_recall == pytest.approx(r, abs=1e-12)
        assert lm.non_o_f1 == pytest.approx(f, abs=1e-12)

    def test_length_mismatch_excluded(self, spark):
        from igtdetect_spark.operators.eval import (
            align_eval_gold,
            line_count_mismatches,
        )

        gold = spark.createDataFrame(
            [("u1", 1, "O"), ("u1", 2, "L"), ("u2", 1, "O")],
            "url string, line_no int, tag string",
        )
        pred = spark.createDataFrame(
            [("u1", 1, "O"), ("u2", 1, "O"), ("u2", 2, "L")],
            "url string, line_no int, pred string",
        )
        aligned = align_eval_gold(pred, gold)
        assert aligned.count() == 0  # both urls mismatch
        assert line_count_mismatches(pred, gold).count() == 2

    def test_tb_v_remap(self, spark):
        from igtdetect_spark.operators.eval import align_eval_gold

        gold = spark.createDataFrame(
            [("u", 1, "O"), ("u", 2, "O")], "url string, line_no int, tag string"
        )
        pred = spark.createDataFrame(
            [("u", 1, "TB"), ("u", 2, "V")], "url string, line_no int, pred string"
        )
        rows = align_eval_gold(pred, gold).collect()
        assert all(r["pred"] == "O" for r in rows)


class TestSpanEval:
    def test_span_metrics_match_oracle(self, spark, spark_dfs, oracle_metrics):
        from igtdetect_spark.operators.eval import span_metrics

        _, _, gspans, pspans = spark_dfs
        _, se = oracle_metrics
        sm = span_metrics(pspans, gspans)
        oe = se.exact_prf()
        op = se.partial_prf()
        assert (sm.exact_p, sm.exact_r, sm.exact_f) == pytest.approx(oe, abs=1e-12)
        assert (sm.partial_p, sm.partial_r, sm.partial_f) == pytest.approx(op, abs=1e-12)
        assert sm.n_gold > 20 and sm.n_system > 10  # non-trivial

    def test_partial_asymmetry(self):
        """One long system span containing two gold spans: precision side
        counts 0 (neither of the system span's endpoints falls inside a
        gold range — containment quirk), recall side counts 2 (each gold
        span's endpoints fall inside the system range) — reference
        semantics, igtdetect.py:961-976."""
        sys_spans = {"s1": (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)}
        gold_spans = {"g1": (2, 3), "g2": (8, 9)}
        assert partial_matches(sys_spans, gold_spans, "precision") == 0
        assert partial_matches(sys_spans, gold_spans, "recall") == 2
        # a partially-overlapping (not containing) system span does count
        sys2 = {"s1": (3, 4, 5)}
        assert partial_matches(sys2, gold_spans, "precision") == 1

    def test_partial_containment_quirk(self):
        """A system span strictly containing a gold span does NOT count on
        the precision side (neither sys endpoint is inside the gold range)
        — the reference's documented asymmetric definition."""
        sys_spans = {"s1": (1, 2, 3, 4, 5)}
        gold_spans = {"g1": (2, 3)}
        assert partial_matches(sys_spans, gold_spans, "precision") == 0
        assert partial_matches(sys_spans, gold_spans, "recall") == 1

    def test_spark_partial_matches_quirk(self, spark):
        from igtdetect_spark.operators.eval import partial_span_match_count

        sys_spans = spark.createDataFrame(
            [("u", 1, 5)], "url string, start_line int, end_line int"
        )
        gold_spans = spark.createDataFrame(
            [("u", 2, 3)], "url string, start_line int, end_line int"
        )
        assert partial_span_match_count(sys_spans, gold_spans) == 0
        assert partial_span_match_count(gold_spans, sys_spans) == 1


class TestReportFormats:
    def test_csv_report_golden(self, spark, spark_dfs):
        """--csv report: comma-delimited everywhere the text report tabs
        (reference igtdetect.py:1099-1116 delimiter switch)."""
        from igtdetect_spark.operators.eval import (
            align_eval_gold,
            confusion_counts,
            label_metrics,
            render_report,
            span_metrics,
        )

        gold, pred, gspans, pspans = spark_dfs
        counts = confusion_counts(align_eval_gold(pred, gold))
        lm = label_metrics(counts)
        sm = span_metrics(pspans, gspans)
        txt = render_report(counts, lm, sm, csv=False)
        csv = render_report(counts, lm, sm, csv=True)
        # identical content modulo delimiter
        assert csv == txt.replace("\t", ",")
        assert "\t" not in csv and "," in csv
        # matrix header row + one row per gold label, sorted by the
        # reference label order, and the metric sections
        lines = csv.splitlines()
        assert lines[0].startswith(",")
        assert "----- Labels -----" in csv and "----- Spans ------" in csv
        for needle in ("Classifiation Acc:", "Non-O P/R/F:",
                       "Exact-span P/R/F:", "Partial-span P/R/F:"):
            assert needle in csv
