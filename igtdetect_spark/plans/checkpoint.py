"""Checkpointed, resumable detection runs with per-partition lineage
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; the Spark analogue of the reference's feature-file memoization,
igtdetect.py:122-132).

Unit of work = url-hash bucket: ``bucket = pmod(xxhash64(url), n_buckets)``.
The output parquet is partitioned by bucket; a JSON manifest records, per
committed bucket, the lineage counters (pages in, spans and span lines
out), wall clock and run ordinal. Resuming skips committed buckets — the
filter is a deterministic hash predicate on the input, so completed work is
never recomputed, and a re-run of a partially-failed job converges.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import DetectContext, detect_spans_fused

MANIFEST = "_manifest.json"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def read_manifest(out_dir: str) -> dict[int, dict]:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        data = json.load(f)
    return {int(k): v for k, v in data.items()}


def _write_manifest(out_dir: str, manifest: dict[int, dict]) -> None:
    p = _manifest_path(out_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({str(k): v for k, v in manifest.items()}, f, indent=1)
    os.replace(tmp, p)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def _clean_uncommitted(out_dir: str, manifest: dict[int, dict]) -> list[int]:
    """Delete ``bucket=<b>`` partition directories whose bucket is NOT in
    the manifest. The manifest write is the single commit point: a crash
    between the parquet append and the manifest write leaves orphan rows,
    which would be duplicated when the resume recomputes that bucket —
    purging them first makes resume idempotent."""
    purged = []
    if not os.path.isdir(out_dir):
        return purged
    for name in os.listdir(out_dir):
        if not name.startswith("bucket="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b not in manifest:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
            purged.append(b)
    return purged


def run_checkpointed_detect(
    spark: SparkSession,
    pages: DataFrame,
    ctx: DetectContext,
    out_dir: str,
    n_buckets: int = 32,
    buckets_per_commit: int = 8,
) -> dict[int, dict]:
    """Detect spans over ``pages``, committing results bucket-group by
    bucket-group. Safe to interrupt and re-invoke: committed buckets are
    skipped (their rows are filtered out by the hash predicate, so no
    page is reprocessed), and partition directories of buckets absent
    from the manifest — rows committed to parquet by a run that crashed
    before its manifest write — are purged before reprocessing, so
    resume never duplicates rows.

    Lineage per committed bucket (manifest keys): ``bucket``, input
    ``n_pages``, ``n_spans`` and ``n_lines_in_spans`` read back from the
    COMMITTED files (ground truth, not in-flight numbers), ``wall_sec``
    and the run ordinal ``committed_at``.

    Returns the final manifest (bucket → lineage counters).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir)
    _clean_uncommitted(out_dir, manifest)  # purge orphan rows from a crash
    todo = [b for b in range(n_buckets) if b not in manifest]
    run_ord = time.time()

    pages_b = pages.withColumn("_bucket", bucket_col(n_buckets))

    for i in range(0, len(todo), buckets_per_commit):
        group = todo[i : i + buckets_per_commit]
        t0 = time.time()
        part = pages_b.filter(F.col("_bucket").isin(group))
        n_pages_by_bucket = {
            r["_bucket"]: r["n"]
            for r in part.groupBy("_bucket").agg(F.count("*").alias("n")).collect()
        }
        out = detect_spans_fused(part.drop("_bucket"), ctx).withColumn(
            "bucket", bucket_col(n_buckets)
        )
        (
            out.repartition("bucket")
            .write.partitionBy("bucket")
            .mode("append")
            .parquet(out_dir)
        )
        wall = time.time() - t0
        out_rows = {
            r["bucket"]: r
            for r in spark.read.parquet(out_dir)
            .filter(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(F.size("tags")).alias("n_lines_in_spans"),
            )
            .collect()
        }
        for b in group:
            r = out_rows.get(b)
            manifest[b] = {
                "bucket": b,
                "n_pages": int(n_pages_by_bucket.get(b, 0)),
                "n_spans": int(r["n_spans"]) if r else 0,
                "n_lines_in_spans": (
                    int(r["n_lines_in_spans"] or 0) if r else 0
                ),
                "wall_sec": round(wall / max(len(group), 1), 3),
                "committed_at": run_ord,
            }
        _write_manifest(out_dir, manifest)
    return manifest
