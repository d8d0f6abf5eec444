"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in this process on Spark ``local[4]``, closed loop (one
action at a time), checks the outputs, and prints a report line per
metric followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with a traced
pass added and reports the per-layer metrics. The run record (report,
per-operation records, spans) is written to ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("flagship_uniform", "flagship_skewed", "registry_sf01")

END_TO_END = {
    "setup_s": "s",
    "primary_s": "s",
}

PER_LAYER = {
    "proc.peak_rss_mb": "MB",
    "session.build_session_s": "s",
    "session.first_build_session_s": "s",
    "pydaemon.python_boot_s": "s",
    "pydaemon.python_init_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_tasks": "count",
    "segment.batch_to_columns_s": "s",
    "segment.lines_out": "count",
    "segmentation.extract_page_text_s": "s",
    "vectorized.base_feature_matrix_s": "s",
    "vectorized.score_matrix_s": "s",
    "vectorized.spans_from_labels_s": "s",
    "vectorized.spans_out": "count",
    "replay.wall_s": "s",
    "replay.layer_share": "ratio",
    "pipeline.python_total_s": "s",
    "pipeline.python_data_sent_bytes": "B",
    "pipeline.python_data_received_bytes": "B",
    "pipeline.task_max_over_median": "ratio",
    "chunked.path_chunked": "bool",
    "chunked.corpus_char_stats_s": "s",
    "chunked.chunks": "count",
    "chunked.shuffle_write_bytes": "B",
    "chunked.max_doc_kernel_s": "s",
    "entry_queries.build_s": "s",
    "entry_queries.build_jobs": "count",
    "entry_queries.plan_s": "s",
    "entry_queries.exec_s": "s",
    "entry_queries.split_coverage_min": "ratio",
    "entry_queries.exchanges": "count",
    "entry_queries.shuffle_write_bytes": "B",
    "entry_queries.shuffle_read_bytes": "B",
    "entry_queries.spill_bytes": "B",
    "entry_queries.python_nodes": "count",
    "entry_queries.cached_scans": "count",
    "entry_queries.checkpoint_scans": "count",
    "dedup.release_plan_caches_s": "s",
    "dedup.leaked_rdds": "count",
    "trace.primary_s": "s",
}

# Named figures printed in the report lines (not in the JSON metrics).
REPORT_UNITS = {
    "docs_per_s": "1/s", "lines_per_s": "1/s", "classify_lines_per_s": "1/s",
    "registry_total_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "error_rate": "ratio", "peak_rss_mb": "MB", "setup_s": "s",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_checkout() -> None:
    for rel in ("igtdetect_spark/__init__.py", "tools/gen_sf.py"):
        if not os.path.exists(os.path.join(REPO, rel)):
            _fail(f"{rel} not found: run from a full checkout of the repository")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _check_checkout()
    # per-process, so a second run in the same checkout cannot delete this
    # one's scratch files
    work = os.path.join(REPO, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file (py4j handshake, Spark, Python workers) stays inside
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, REPO)

    from perfbench.common import CORES, MASTER, stop_processes
    from perfbench.inputs import InputError
    from perfbench.trace import PeakRss, Tracer

    # a terminated run still leaves through the ``finally`` below, which
    # stops the JVM and the Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(enabled=bool(args.trace))
    rss = PeakRss().start()
    if args.workload == "registry_sf01":
        from perfbench.registry import Registry as W
    else:
        from perfbench.flagship import Flagship as W
    wl = W(args.workload, args.seed, args.seconds, tracer, REPO, work)
    t_start = time.perf_counter()
    try:
        setup_times = wl.setup()
        wl.timed()
        wl.check()
        e2e = wl.end_to_end()
        layers, report_extra = None, {}
        if args.trace:
            if args.workload == "registry_sf01":
                layers = wl.per_layer()
            else:
                replay = wl.replay()
                scaling = wl.scaling_leg() if args.workload == "flagship_uniform" else None
                layers = wl.per_layer(replay, scaling)
            report_extra = {k: layers.pop(k) for k in list(layers) if k not in PER_LAYER}
            sessions = [s["dur_s"] for s in tracer.spans
                        if s["name"] == "session.build_session"]
            layers["session.build_session_s"] = median(sessions)
            layers["session.first_build_session_s"] = sessions[0]
    except InputError as e:
        _fail(str(e))
    finally:
        try:
            wl.close()
        finally:
            peak = rss.stop()
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # left while another run uses it
                os.rmdir(os.path.dirname(work))

    setup_s = median(setup_times)
    e2e = {"setup_s": setup_s, **e2e}
    if layers is not None:
        layers["proc.peak_rss_mb"] = peak / 2**20
    failed = len(wl.failures)
    attempted = max(wl.attempted, 1)
    report = {
        **wl.report, "setup_s": setup_s, "setup_rounds_s": setup_times,
        "peak_rss_mb": peak / 2**20, "error_rate": failed / attempted,
        "cores": CORES, "master": MASTER, "seed": args.seed,
        "run_wall_s": time.perf_counter() - t_start, **report_extra,
    }
    for k, v in report.items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            print(f"metric {k} {v:.6g} {REPORT_UNITS.get(k, '')}".rstrip())
        else:
            print(f"info {k} {v}")
    for f in wl.failures:
        print(f"FAILED {f}")

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}

    runs = os.path.join(REPO, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "report": report, "metrics": metrics, "failures": wl.failures,
        "timed": getattr(wl, "times", None) or getattr(wl, "execs", None),
        "per_op": getattr(wl, "per_op", None),
        "per_query": getattr(wl, "per_query", None),
        "spans": tracer.dump(),
    }
    with open(os.path.join(
            runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
