"""spark-submit entry point for the detection pipeline (north_star launch
contract: ``spark-submit --py-files igtdetect_spark.zip tools/run_detect.py``).

Reads a pages parquet directory (or synthesizes a deterministic corpus),
runs checkpointed detection with per-bucket lineage, writes spans parquet
+ manifest, prints one JSON status line.

Args:
  --pages DIR          input pages parquet (default: synthesize)
  --n-docs N           synthetic corpus size when no --pages (default 2000)
  --out DIR            output directory (required)
  --buckets N          url-hash buckets for checkpoint/resume (default 16)
  --main-content       enable HTML main-content extraction
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages")
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--main-content", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit owns master/conf; fall back to a sane local default
    spark = SparkSession.builder.appName("igtdetect_spark_detect").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from igtdetect_spark.config import DEFAULT_CONFIG
    from igtdetect_spark.flagship import get_lexicons, get_synthetic_model
    from igtdetect_spark.plans.checkpoint import run_checkpointed_detect
    from igtdetect_spark.plans.pipeline import DetectContext
    from igtdetect_spark.sources.pages import read_pages, synthetic_pages

    cfg = DEFAULT_CONFIG.with_(html_main_content=args.main_content)
    ctx = DetectContext(spark, get_synthetic_model(), get_lexicons(), cfg)

    if args.pages:
        pages = read_pages(spark, args.pages)
    else:
        pages = synthetic_pages(spark, args.n_docs)

    t0 = time.time()
    manifest = run_checkpointed_detect(
        spark, pages, ctx, args.out, n_buckets=args.buckets
    )
    wall = time.time() - t0
    n_spans = sum(m["n_spans"] for m in manifest.values())
    n_pages = sum(m["n_pages"] for m in manifest.values())
    print(
        json.dumps(
            {
                "status": "ok",
                "pages": n_pages,
                "spans": n_spans,
                "buckets": len(manifest),
                "wall_sec": round(wall, 2),
                "pages_per_sec": round(n_pages / wall, 1) if wall else None,
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
