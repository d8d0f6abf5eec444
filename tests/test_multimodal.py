"""Multimodal binary-column plumbing tests (stubbed codec)."""

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    from igtdetect_spark.operators.multimodal import media_from_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return media_from_documents(docs).cache()


def test_media_schema_and_payload(media):
    rows = media.limit(5).collect()
    assert all(isinstance(bytes(r["payload"]), bytes) for r in rows)
    assert {r["kind"] for r in media.select("kind").distinct().collect()} == {
        "image", "audio", "video"
    }


def test_extract_features_deterministic(spark, media):
    from igtdetect_spark.operators.multimodal import extract_media_features

    f1 = {r["media_id"]: (r["sha"], tuple(r["embedding"]))
          for r in extract_media_features(media).collect()}
    f2 = {r["media_id"]: (r["sha"], tuple(r["embedding"]))
          for r in extract_media_features(media).collect()}
    assert f1 == f2
    assert len(f1) == media.count()
    dims = {len(v[1]) for v in f1.values()}
    assert dims == {16}


def test_frame_sample(media):
    from igtdetect_spark.operators.multimodal import frame_sample

    frames = frame_sample(media, every_ms=1000, max_frames=4)
    rows = frames.collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append((r["frame_no"], r["ts_ms"]))
    for mid, fs in by_media.items():
        fs.sort()
        assert len(fs) <= 4
        assert [f[1] for f in fs] == [i * 1000 for i in range(len(fs))]
