"""Checkpoint/resume + lineage tests (north_rule requirement)."""

import json
import shutil

import pytest

from igtdetect_spark.flagship import get_synthetic_model


@pytest.fixture(scope="module")
def ctx(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, get_synthetic_model(), lexicons)


@pytest.fixture(scope="module")
def pages(spark):
    from igtdetect_spark.sources.pages import synthetic_pages

    return synthetic_pages(spark, 40).cache()


def test_checkpointed_run_matches_direct(spark, ctx, pages, tmp_path_factory):
    from igtdetect_spark.plans.checkpoint import (
        run_checkpointed_detect,
        verify_complete,
    )
    from igtdetect_spark.plans.pipeline import detect_spans_fused

    out = str(tmp_path_factory.mktemp("ckpt"))
    manifest = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    assert verify_complete(out, 4)
    assert sum(m["n_pages"] for m in manifest.values()) == 40

    got = spark.read.parquet(out).drop("bucket")
    want = detect_spans_fused(pages, ctx)
    key = lambda r: (r["url"], r["span_no"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # lineage counters match the committed data
    n_spans = want.count()
    assert sum(m["n_spans"] for m in manifest.values()) == n_spans


def test_resume_skips_committed_buckets(spark, ctx, pages, tmp_path_factory):
    from igtdetect_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_detect,
    )

    out = str(tmp_path_factory.mktemp("ckpt_resume"))
    m1 = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    # simulate a crash after the first commit group: forget buckets 2,3
    # and delete their output partitions
    import os

    partial = {b: m1[b] for b in (0, 1)}
    with open(f"{out}/_manifest.json", "w") as f:
        json.dump({str(k): v for k, v in partial.items()}, f)
    for b in (2, 3):
        shutil.rmtree(f"{out}/bucket={b}", ignore_errors=True)

    m2 = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    # committed buckets were not recomputed (same commit ordinal)...
    assert m2[0]["committed_at"] == m1[0]["committed_at"]
    assert m2[1]["committed_at"] == m1[1]["committed_at"]
    # ...and the resumed buckets were (new ordinal)
    assert m2[2]["committed_at"] != m1[2]["committed_at"]
    # final output is complete and identical to a fresh full run
    total = spark.read.parquet(out).count()
    assert total == sum(m["n_spans"] for m in m2.values())


def test_resume_purges_unmanifested_rows(spark, ctx, pages, tmp_path_factory):
    """Crash window: rows appended to parquet but manifest not yet written.
    A resume must NOT duplicate those spans (it purges the orphan
    partitions and recomputes the bucket)."""
    from igtdetect_spark.plans.checkpoint import run_checkpointed_detect

    out = str(tmp_path_factory.mktemp("ckpt_crash"))
    m1 = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    total = spark.read.parquet(out).count()

    # simulate the crash: buckets 2,3 have committed rows on disk, but the
    # manifest forgot them (written before the 2nd group's manifest update)
    partial = {b: m1[b] for b in (0, 1)}
    with open(f"{out}/_manifest.json", "w") as f:
        json.dump({str(k): v for k, v in partial.items()}, f)

    m2 = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    assert spark.read.parquet(out).count() == total  # no duplicates
    assert sum(m["n_spans"] for m in m2.values()) == sum(
        m["n_spans"] for m in m1.values()
    )


def test_detect_with_metrics(spark, ctx, pages):
    from igtdetect_spark.plans.pipeline import detect_with_metrics

    spans, metrics = detect_with_metrics(pages, ctx)
    n = spans.count()
    m = metrics()
    assert m["n_pages"] == 40
    assert m["n_spans"] == n
    assert m["n_span_lines"] >= n  # every span has ≥1 line
    assert m["n_content_bytes"] > 0


# ---------------------------------------------------------------------------
# checkpointed EXTRACTION (generic runner over the north-rule pipeline)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def html_pages(spark):
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.webpages import synthetic_html_pages

    docs = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("A sufficiently long stopword bearing paragraph "
                       "about the topic of document "),
                 F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
    )
    return synthetic_html_pages(docs).cache()


def test_checkpointed_extraction_matches_direct(
    spark, html_pages, tmp_path_factory
):
    from igtdetect_spark.operators.webpages import main_content_pages
    from igtdetect_spark.plans.checkpoint import (
        run_checkpointed_extraction,
        verify_complete,
    )

    out = str(tmp_path_factory.mktemp("exckpt"))
    manifest = run_checkpointed_extraction(
        spark, html_pages, out, n_buckets=4, buckets_per_commit=2
    )
    assert verify_complete(out, 4)
    assert sum(m["n_pages"] for m in manifest.values()) == 60

    got = sorted(
        map(tuple, spark.read.parquet(out).drop("bucket").collect())
    )
    want = sorted(map(tuple, main_content_pages(html_pages).collect()))
    assert got == want  # byte-identical extracted text per url
    # lineage counters are ground truth from the committed files
    n_chars = sum(len(r[2]) for r in want if r[2] is not None)
    assert sum(m["n_chars"] for m in manifest.values()) == n_chars
    assert sum(m["n_rows"] for m in manifest.values()) == len(want)


def test_extraction_resume_purges_and_converges(
    spark, html_pages, tmp_path_factory
):
    import os

    from igtdetect_spark.operators.webpages import main_content_pages
    from igtdetect_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_extraction,
        _write_manifest,
    )

    out = str(tmp_path_factory.mktemp("exckpt2"))
    run_checkpointed_extraction(
        spark, html_pages, out, n_buckets=4, buckets_per_commit=2
    )
    # simulate a crash AFTER bucket 3's parquet append but BEFORE its
    # manifest write: drop it from the manifest, leave the rows on disk
    m = read_manifest(out)
    committed_at = {b: v["committed_at"] for b, v in m.items()}
    del m[3]
    _write_manifest(out, m)
    assert os.path.isdir(os.path.join(out, "bucket=3"))  # orphan rows

    m2 = run_checkpointed_extraction(
        spark, html_pages, out, n_buckets=4, buckets_per_commit=2
    )
    # buckets 0-2 were NOT recomputed (same run ordinal); 3 was redone
    for b in (0, 1, 2):
        assert m2[b]["committed_at"] == committed_at[b]
    assert m2[3]["committed_at"] != committed_at[3]
    got = sorted(
        map(tuple, spark.read.parquet(out).drop("bucket").collect())
    )
    want = sorted(map(tuple, main_content_pages(html_pages).collect()))
    assert got == want  # no duplicated rows after the resume


class TestPagerankCheckpointed:
    """Iteration-level checkpoint/resume for the iterative graph job."""

    def _pages(self, spark):
        from igtdetect_spark.operators.webpages import (
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        return synthetic_linked_pages(docs)

    def _collect(self, df):
        from igtdetect_spark.operators.dedup import release_plan_caches

        rows = {r["url"]: (r["rank_e6"], r["out_deg"])
                for r in df.collect()}
        release_plan_caches(df)
        return rows

    def test_fresh_run_matches_direct(self, spark, tmp_path_factory):
        import json
        import os

        from igtdetect_spark.operators.webpages import (
            pagerank,
            pagerank_checkpointed,
        )

        pages = self._pages(spark)
        out = str(tmp_path_factory.mktemp("prckpt"))
        got = self._collect(pagerank_checkpointed(pages, out))
        exp = self._collect(pagerank(pages))
        assert got == exp
        m = json.load(open(os.path.join(out, "MANIFEST.json")))
        assert set(m) == {"1", "2", "3"}
        for e in m.values():
            assert e["n_nodes"] == len(exp)
            assert e["total_rank_e6"] > 0
            assert "wall_sec" in e

    def test_resume_continues_from_committed_iteration(
        self, spark, tmp_path_factory
    ):
        import json
        import os

        from igtdetect_spark.operators.webpages import (
            pagerank,
            pagerank_checkpointed,
        )

        pages = self._pages(spark)
        out = str(tmp_path_factory.mktemp("prckpt_resume"))
        # run only 2 of the 3 iterations, as an interrupted job would
        self._collect(pagerank_checkpointed(pages, out, iterations=2))
        m = json.load(open(os.path.join(out, "MANIFEST.json")))
        assert set(m) == {"1", "2"}
        # re-invoke at full depth: iterations 1-2 are not recomputed
        # (their manifest entries survive byte-identical), iteration 3
        # runs from the committed state, and the result is
        # bit-identical to the uninterrupted run
        got = self._collect(pagerank_checkpointed(pages, out))
        m2 = json.load(open(os.path.join(out, "MANIFEST.json")))
        assert {k: m2[k] for k in ("1", "2")} == m
        assert set(m2) == {"1", "2", "3"}
        assert got == self._collect(pagerank(pages))

    def test_crash_orphan_state_is_purged(self, spark, tmp_path_factory):
        import os

        from igtdetect_spark.operators.webpages import (
            pagerank,
            pagerank_checkpointed,
        )

        pages = self._pages(spark)
        out = str(tmp_path_factory.mktemp("prckpt_crash"))
        self._collect(pagerank_checkpointed(pages, out, iterations=1))
        # fabricate iteration-2 state WITHOUT a manifest row — the
        # write-then-commit gap of a crash; resume must ignore it
        orphan = os.path.join(out, "iter=2")
        os.makedirs(orphan)
        open(os.path.join(orphan, "garbage.parquet"), "w").write("x")
        got = self._collect(pagerank_checkpointed(pages, out))
        assert got == self._collect(pagerank(pages))
