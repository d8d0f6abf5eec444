"""Hostile-input robustness: the pipelines must not crash on malformed
pages (null fields, invalid UTF-8 html, control characters, huge lines,
whitespace-only docs)."""

import datetime

import pytest

from igtdetect_spark.flagship import get_synthetic_model
from igtdetect_spark.sources.pages import PAGES_SCHEMA

from conftest import lines_table_spans

TS = datetime.datetime(2024, 1, 1)

HOSTILE_ROWS = [
    ("u_null_both", TS, None, None, "en"),
    ("u_empty_text", TS, None, "", "en"),
    ("u_ws_only", TS, None, "   \n\t\n  ", "en"),
    ("u_bad_utf8", TS, bytearray(b"\xff\xfe<p>broken \xf0 bytes</p>"), None, "en"),
    ("u_ctrl", TS, None, "line with \x00 null and \x1b escape\nsecond", "en"),
    ("u_huge_line", TS, None, "x" * 500_000, "en"),
    ("u_many_ff", TS, None, "\f\f\fpage4 line\f\f", "en"),
    ("u_unicode_soup", TS, None, "日本語 한국어 Ѐ–ͯ ‘quoted words’ (1984)", "en"),
    ("u_html_nested", TS, bytearray(b"<div><div><p>deep <b>text</b></p></div></div>"), None, "en"),
    ("u_html_unclosed", TS, bytearray(b"<p>unclosed <a href='x'>anchor"), None, "en"),
]


@pytest.fixture(scope="module")
def hostile(spark):
    return spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA).cache()


@pytest.fixture(scope="module")
def ctx(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, get_synthetic_model(), lexicons)


def test_fused_survives_hostile_pages(spark, hostile, ctx):
    from igtdetect_spark.plans.pipeline import classify_lines_fused, detect_spans_fused

    lines = classify_lines_fused(hostile, ctx).collect()
    urls = {r["url"] for r in lines}
    assert "u_unicode_soup" in urls and "u_huge_line" in urls
    assert "u_null_both" not in urls  # no content → no lines, no crash
    detect_spans_fused(hostile, ctx).collect()  # must not raise


def test_lines_table_survives_hostile_pages(spark, hostile, ctx):
    from igtdetect_spark.operators.segment import segment_pages

    lines = segment_pages(hostile, ctx.cfg.html_main_content)
    lines_table_spans(lines, ctx).collect()


def test_segmentation_of_hostile_values():
    from igtdetect_spark.segmentation import extract_page_text, segment_text

    assert segment_text("") == []
    assert segment_text("   \n\t\n  ") == []
    out = extract_page_text(b"\xff\xfe<p>broken \xf0 bytes</p>", None)
    assert "broken" in out  # errors='replace' decoding
    segs = segment_text("\f\f\fpage4 line\f\f")
    assert [(s.page, s.text) for s in segs] == [(4, "page4 line")]


def test_dedup_ops_survive_hostile_docs(spark):
    from igtdetect_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_band_hashes,
        simhash_docs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "x" * 100_000), (5, "normal text here")],
        "doc_id long, text string",
    )
    exact_dedup_groups(docs).collect()
    minhash_band_hashes(docs).collect()
    simhash_docs(docs).collect()

    from igtdetect_spark.operators.text_analysis import (
        subword_token_stats,
        winnowing_fingerprints,
    )

    sw = {r["doc_id"]: r["n_subwords"]
          for r in subword_token_stats(docs).collect()}
    assert sw[1] == 0  # NULL text behaves as empty, not NULL
    winnowing_fingerprints(docs).collect()

    from igtdetect_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(1, None), (2, [1.0] * 64), (3, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    assert embedding_neardup_pairs(emb, threshold=0.9).count() == 1


def test_single_pass_normalize_equals_two_pass(spark):
    """normalized_text's single-class regex must equal the definitional
    two-pass form (strip-then-collapse) the DuckDB oracle spells, on
    every boundary shape: leading/trailing junk, punctuation islands
    between spaces, runs of mixed space+symbol, unicode (lowered é is
    non-alnum → space), NULL and empty."""
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.dedup import (
        NORM_PATTERN,
        normalized_text,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            None, "", " ", ".", "a.,b", "a . b", "a  b", "  a!  ",
            "Héllo, Wörld!!", "x" + " .- " * 50 + "y", "a-b_c d",
            "...a...", "MiXed CASE 42",
        ])],
        "doc_id long, text string",
    )
    two_pass = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), NORM_PATTERN, " "),
            " +", " ",
        )
    )
    rows = docs.select(
        normalized_text(F.col("text")).alias("one"),
        two_pass.alias("two"),
    ).collect()
    for r in rows:
        assert r["one"] == r["two"]


def test_token_stats_e6_average_is_multiply_first(spark):
    """floor(sum·1e6/n) — multiply BEFORE divide, the oracle's order.
    An exact decimal ratio like 41/10 is inexact in binary doubles, so
    floor((41/10)·1e6) = 4099999 while floor(41·1e6/10) = 4100000; the
    wrong order hash-missed 5 sf0.1 docs (found by the first full
    sf0.1 mirror, round 6 session 2)."""
    from igtdetect_spark.entry_queries import q_token_stats

    docs = spark.createDataFrame(
        # 10 tokens, 41 non-space chars → avg 4.1 exactly
        [(0, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii aaaaa")],
        "doc_id long, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        row = q_token_stats(spark, d).collect()[0]
    assert row["n_tokens"] == 10
    assert row["avg_token_len_e6"] == 4_100_000  # not 4_099_999


def test_ngram_jaccard_e6_is_multiply_first(spark):
    """jaccard_e6 must be floor(n_common·1e6/union) — multiply first,
    the oracle's order.  A pair with jaccard exactly 3/5 = 0.6 (inexact
    in binary doubles) floors to 600000 multiply-first but 599999 from
    the pre-divided double."""
    from pyspark.sql import functions as F

    from igtdetect_spark.entry_queries import queries
    from igtdetect_spark.operators.dedup import release_plan_caches

    # two 6-token docs sharing exactly 3 of 5 total distinct 3-gram
    # shingles: doc0 {abc,bcd,cde,def}, doc1 {abc,bcd,cde,ce-zz} →
    # n_common=3, n_a=n_b=4, union=5, jaccard=0.6
    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e zz")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")) \
     .withColumn("source", F.lit("t")) \
     .withColumn("n_chars", F.lit(0).cast("long"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        df = queries()["ngram_jaccard"](spark, d)
        rows = df.collect()
        release_plan_caches(df)
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    r = by_pair[(0, 1)]
    assert (r["n_common"], r["n_a"], r["n_b"]) == (3, 4, 4)
    assert r["jaccard_e6"] == 600_000  # not 599_999


def test_quality_kernel_matches_expression_form(spark):
    """The round-6 quality_scores Arrow kernel must reproduce the
    original native expression chain bit-for-bit on hostile inputs —
    NULL text (NULL metrics, quality 0), empty text (try_divide NULL
    alnum), whitespace-only, mixed case + unicode, vertical tab (the
    explicit WS class), and a 20+-token stopword-rich doc (clears every
    gate except distinct-ratio: 6 distinct / 23 tokens < 0.3)."""
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.text_analysis import (
        EN_STOPWORDS,
        WS_CLASS,
        _tokens,
        quality_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "a\x0bb\tc\nd"),
            (5, "The the THE of of in in " + "word " * 15),
            (6, "Ünïcøde MiXeD CaSe!!! ### 12a3"),
            (7, "a a a a a"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_scores(docs).collect()}

    # reference: the pre-kernel expression form, inline
    t = F.col("text")
    toks = _tokens(t)
    lower_toks = _tokens(F.lower(t))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    stopword_hits = F.size(
        F.array_intersect(F.array_distinct(lower_toks), sw)
    )
    alnum_ratio = F.try_divide(
        F.length(F.regexp_replace(t, "[^a-zA-Z0-9 ]", "")), F.length(t)
    )
    quality = (
        F.when(n_tokens >= 20, F.lit(1)).otherwise(F.lit(0))
        + F.when(distinct_ratio >= 0.3, F.lit(1)).otherwise(F.lit(0))
        + F.when(stopword_hits >= 2, F.lit(1)).otherwise(F.lit(0))
        + F.when(alnum_ratio >= 0.8, F.lit(1)).otherwise(F.lit(0))
    )
    want = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.floor(distinct_ratio * 1e6).cast("long")
            .alias("distinct_ratio_e6"),
            stopword_hits.alias("stopword_hits"),
            F.floor(alnum_ratio * 1e6).cast("long")
            .alias("alnum_ratio_e6"),
            quality.cast("int").alias("quality"),
        ).collect()
    }
    assert WS_CLASS == r"[ \t\n\r\f\x0b]+"  # the class both forms share
    for d in got:
        assert tuple(got[d]) == tuple(want[d]), d
    assert got[5]["quality"] == 3 and got[1]["quality"] == 0


def test_pydaemon_protocol_signature_guard():
    """Round-4 advice: the pydaemon setup_spark_files clone re-implements
    a specific pyspark wire protocol; a pyspark upgrade must trip the
    signature guard and keep the STOCK implementation (loud fallback)
    rather than desynchronizing the worker stream."""
    import pyspark.worker_util as wu

    from igtdetect_spark import pydaemon

    # at import the guard saw the STOCK function and the pin matched
    # (after import the clone is installed, so check the recorded verdict)
    assert pydaemon._SIGNATURE_OK is True

    # simulate an upgrade: with a wrong pin, install must refuse to patch
    orig_wu = wu.setup_spark_files
    orig_sha = pydaemon._SETUP_SPARK_FILES_SHA256
    orig_ok = pydaemon._SIGNATURE_OK
    try:
        # reset to a known stock-like sentinel so we can detect patching
        sentinel = object()
        wu.setup_spark_files = sentinel
        pydaemon._SETUP_SPARK_FILES_SHA256 = "0" * 64
        pydaemon._install_spark_files_cache()
        assert wu.setup_spark_files is sentinel  # untouched on mismatch
    finally:
        pydaemon._SETUP_SPARK_FILES_SHA256 = orig_sha
        pydaemon._SIGNATURE_OK = orig_ok
        wu.setup_spark_files = orig_wu
