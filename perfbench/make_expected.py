"""Write ``expected_registry.json``: each listed registry query's
(row count, bench.py checksum) over the benchmark's sf0.1 tables.

    python3 perfbench/make_expected.py

Cross-check the same tables against the DuckDB oracles once with
``tools/check_correctness.py <sf_dir> <query ...>`` (the directory is
kept when ``--keep DIR`` is given).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keep", help="also write the sf tables to this directory")
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    from perfbench.common import checksum_df, new_session, run_checksum
    from perfbench.inputs import write_registry_tables
    from perfbench.registry import EXPECTED_PATH, QUERIES, SF

    from igtdetect_spark.entry_queries import queries
    from igtdetect_spark.operators.dedup import release_plan_caches

    work = os.path.join(REPO, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    path = args.keep or os.path.join(work, "sf")
    write_registry_tables(REPO, path, SF)
    spark = new_session(work)
    qs = queries()
    out = {}
    try:
        for q in QUERIES:
            df = qs[q](spark, path)
            out[q] = list(run_checksum(checksum_df(df)))
            release_plan_caches(df)
            print(q, out[q], flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump({
            "sf": SF,
            "tables": "tools/gen_sf.py, generator seed 42",
            "checksum": "count(1), bit_xor(xxhash64(*)) as in bench.py",
            "queries": out,
        }, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
