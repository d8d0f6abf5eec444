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
        read_manifest,
        run_checkpointed_detect,
    )
    from igtdetect_spark.plans.pipeline import detect_spans_fused

    out = str(tmp_path_factory.mktemp("ckpt"))
    manifest = run_checkpointed_detect(
        spark, pages, ctx, out, n_buckets=4, buckets_per_commit=2
    )
    assert set(read_manifest(out)) == {0, 1, 2, 3}  # every bucket committed
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
