"""Per-query layer record of the whole query registry.

    python tools/layers.py SF_DIR [QUERY ...]

Runs every query of ``entry_queries.queries()`` (or only the named ones)
over the tables in SF_DIR through the benchmark's own per-query step,
``perfbench.registry.Registry._traced_query``: one untimed priming pass
that records ``cold_s`` and ``cold`` (rows, checksum), then one traced pass
split into build / plan / execute spans, with the final plan's metrics
(``plan``: the five Python node metrics, exchanges, shuffle and spill
bytes, cached and checkpoint scans), the jobs run while building, the
stages, and the persistent RDDs left behind after
``release_plan_caches``, and the traced pass's own ``traced``
(rows, checksum).

Whole-stage codegen fallback is off, so a codegen compile failure is that
query's error instead of a silent switch to the interpreted plan. A query
that raises, or whose traced (rows, checksum) differs from its priming
pass, is recorded with its error and the run goes on.

The session is the benchmark's: ``perfbench.common.MASTER`` (4 cores)
with its shuffle partitions. Writes
``BENCH/layers_4core_<sf dir name>.json``; exits 1 if any query erred.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.common import (  # noqa: E402
    CORES, MASTER, new_session, stop_processes)
from perfbench.registry import Registry  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CONF = {"spark.sql.codegen.fallback": "false"}


def registry(spark, sf_dir: str, qs: dict) -> Registry:
    """A benchmark ``Registry`` pointed at ``spark`` and the tables in
    ``sf_dir``, ready for ``measure``."""
    reg = Registry("layers", 0, 0, Tracer(enabled=True), REPO, None)
    reg.spark, reg.qs, reg.path, reg.per_query = spark, qs, sf_dir, []
    return reg


def measure(reg: Registry, q: str, i: int | str) -> dict:
    """One priming pass and one traced pass of query ``q``. ``i`` names
    the traced pass's job groups and must be unique within the session."""
    rec: dict = {"query": q, "error": None}
    try:
        cold, rec["cold_s"] = reg._query(q, i)
        rec["cold"] = list(cold)
        traced, _ = reg._traced_query(q, i)
        rec["traced"] = list(traced)
        rec.update(reg.per_query[-1])
        if traced != cold:
            rec["error"] = f"traced (rows, checksum) {traced} != cold {cold}"
    except Exception as e:  # noqa: BLE001 — a failed query is recorded
        rec["error"] = f"{type(e).__name__}: {e}"
    return rec


def totals(recs: list[dict]) -> dict:
    ok = [r for r in recs if r["error"] is None]

    def s(key):
        return sum(r[key] for r in ok)

    wall = s("wall_s")
    spans = s("build_s") + s("plan_s") + s("exec_s")
    return {
        "queries": len(recs), "errors": len(recs) - len(ok),
        "cold_s": s("cold_s"), "wall_s": wall, "build_s": s("build_s"),
        "plan_s": s("plan_s"), "exec_s": s("exec_s"),
        "span_coverage": spans / wall if wall else 0.0,
        "span_coverage_min": min(
            ((r["build_s"] + r["plan_s"] + r["exec_s"]) / r["wall_s"] for r in ok),
            default=0.0),
        "build_jobs": s("build_jobs"),
        "queries_with_build_jobs_gt1": sum(1 for r in ok if r["build_jobs"] > 1),
        "leaked_rdds": s("leaked_rdds"),
        "queries_leaking": sum(1 for r in ok if r["leaked_rdds"]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", default=[])
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        ap.error(f"SF_DIR {args.sf_dir!r} is not a directory")

    from igtdetect_spark.entry_queries import queries

    qs = queries()
    names = args.queries or list(qs)
    sf_name = os.path.basename(os.path.normpath(args.sf_dir))
    out = os.path.join(REPO, "BENCH", f"layers_{CORES}core_{sf_name}.json")
    work = tempfile.mkdtemp(prefix="layers-")
    recs: list[dict] = []
    t0 = time.perf_counter()
    spark = new_session(work)
    try:
        for k, v in CONF.items():
            spark.conf.set(k, v)
        reg = registry(spark, args.sf_dir, qs)
        for i, q in enumerate(names):
            r = measure(reg, q, i)
            recs.append(r)
            print(f"{q}: {r['error'] or '%.2f s' % r['wall_s']}", file=sys.stderr)
    finally:
        record = {
            "sf_dir": args.sf_dir, "cores": CORES, "master": MASTER,
            "conf": CONF, "run_wall_s": time.perf_counter() - t0,
            "totals": totals(recs), "queries": recs,
        }
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
        print(f"wrote {out}", file=sys.stderr)
        spark.stop()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    return 1 if record["totals"]["errors"] else 0


if __name__ == "__main__":
    sys.exit(main())
