"""Feature-operator parity (svmlight checkpoint rendering vs oracle) and
the distributed training path (chi² DataFrame selection + Spark ML LR)."""

import numpy as np
import pytest

from igtdetect_spark.config import DEFAULT_CONFIG, REF_SAMPLE_TEST
from igtdetect_spark.flagship import get_lexicons
from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus, make_doc
from igtdetect_spark.oracle.freki import read_freki
from igtdetect_spark.oracle.pipeline import extract_doc_features, score_doc

from conftest import REF_LEXICON_FILES, needs_reference


@pytest.fixture(scope="module")
def lex_bc(spark, lexicons):
    return spark.sparkContext.broadcast(lexicons)


class TestFeatureParity:
    @needs_reference(REF_SAMPLE_TEST, *REF_LEXICON_FILES)
    def test_svmlight_rendering_matches_oracle(self, spark):
        """Full widened feature checkpoint (context copies + prev_tag +
        BI-rewritten label, svmlight rendering) — Spark window operators
        vs the oracle, byte-identical, on the reference sample doc."""
        from igtdetect_spark.operators.features import (
            bi_rewrite_tags,
            render_svmlight_df,
            widen_context_df,
            with_features,
        )
        from igtdetect_spark.operators.segment import segment_freki_files

        doc = read_freki(REF_SAMPLE_TEST)
        inst = extract_doc_features(doc, get_lexicons())
        want = {li.lineno: li.svmlight() for li in inst}

        lines = segment_freki_files(spark, [REF_SAMPLE_TEST])
        feats = with_features(
            lines, spark.sparkContext.broadcast(get_lexicons())
        )
        widened = widen_context_df(bi_rewrite_tags(feats))
        got = {
            r["line_no"]: r["svmlight"]
            for r in render_svmlight_df(widened).collect()
        }
        assert len(got) == len(want) == 268
        assert got == want


class TestDistributedTraining:
    @pytest.fixture(scope="class")
    def train_df(self, spark, lex_bc):
        """Widened training features from synthetic gold docs, via the
        full Spark operator chain."""
        from igtdetect_spark.functions.labels import normalize_label_col
        from igtdetect_spark.operators.features import (
            bi_rewrite_tags,
            widen_context_df,
            with_features,
        )
        from igtdetect_spark.operators.segment import segment_pages
        from igtdetect_spark.plans.train import feature_label_df
        from igtdetect_spark.sources.pages import synthetic_pages
        from pyspark.sql import functions as F

        pages = synthetic_pages(spark, 40, html_every=0)
        lines = segment_pages(pages)
        # attach gold tags + span ids from the generator
        rows = []
        for d in make_corpus(40, html_every=0):
            doc = doc_from_text(d.url, d.text, d.gold_tags)
            for ln in doc.lines():
                rows.append((d.url, ln.lineno, ln.tag, ln.span_id))
        gold = spark.createDataFrame(
            rows, "url string, line_no int, tag string, span_id string"
        )
        lines = lines.drop("tag", "span_id").join(gold, ["url", "line_no"])
        widened = widen_context_df(bi_rewrite_tags(with_features(lines, lex_bc)))
        return feature_label_df(
            widened.withColumn(
                "norm_label", normalize_label_col(F.col("bi_tag"))
            ),
            feature_col="features_ctx",
        ).cache()

    def test_chi2_topk_matches_numpy(self, train_df):
        from igtdetect_spark.plans.train import chi2_topk_features
        from igtdetect_spark.training import (
            build_vocabulary,
            chi2_scores,
            design_matrix,
        )

        rows = train_df.collect()
        fds = [{f: True for f in r["features"]} for r in rows]
        labels = [r["label"] for r in rows]
        classes = sorted(set(labels))
        y = np.array([classes.index(l) for l in labels])
        vocab = build_vocabulary(fds)
        X = design_matrix(fds, vocab)
        scores = chi2_scores(X, y, len(classes))

        got = {
            r["feature"]: r["score"]
            for r in chi2_topk_features(train_df, k=10 ** 9).collect()
        }
        want = dict(zip(vocab, scores))
        assert set(got) == set(want)
        for f in vocab:
            assert got[f] == pytest.approx(want[f], rel=1e-9), f

    def test_spark_ml_model_predicts(self, spark, train_df, lexicons):
        """End-to-end distributed training → ModelWeights → oracle-side
        scoring reaches high accuracy on held-out synthetic docs."""
        from igtdetect_spark.plans.train import train_spark_ml

        model = train_spark_ml(spark, train_df, max_features=2000)
        assert model.classes == ["G", "L", "M", "O", "T"]

        lex = lexicons
        ok = tot = 0
        for i in range(200, 215):
            d = make_doc(i)
            doc = doc_from_text(d.url, d.text)
            inst = extract_doc_features(doc, lex)
            pred, _ = score_doc(inst, model)
            for g, p in zip(d.gold_tags, pred):
                tot += 1
                ok += g == p
        assert ok / tot >= 0.95, f"holdout accuracy {ok/tot:.3f}"
