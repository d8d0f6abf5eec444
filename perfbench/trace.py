"""Outside-in observation for the benchmark: spans, Spark SQL metrics,
job/stage/task records, persistent-RDD diffs and process-tree RSS.

Nothing here reaches into the program: spans wrap calls the benchmark
makes into the program's public functions, and every Spark number is read
after an action from the final AQE plan or from the status store.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, start, end,
    attrs); spans of one operation share the root's id as ``trace``.
    Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; yields the span record, whose
        ``dur_s`` is set when the block exits."""
        if not self.enabled:
            yield {"attrs": attrs}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval covered by its
        children (children of one span never overlap: calls are serial)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
            for s in self.spans
        }

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed wall and self time, and call count."""
        st = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0, "n": 0})
            t["wall_s"] += s["end"] - s["start"]
            t["self_s"] += st[s["id"]]
            t["n"] += 1
        return out

    def dump(self) -> list[dict]:
        st = self.self_times()
        return [{**s, "self_s": st[s["id"]]} for s in self.spans]


# ---------------------------------------------------------------------------
# Spark plan metrics (final AQE plan, read after the action)
# ---------------------------------------------------------------------------

def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _children(jvm, node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        return []  # the cached plan's metrics belong to the caching job
    return _seq(jvm, node.children())


def plan_nodes(spark, df) -> list[dict]:
    """Every node of ``df``'s executed (final, after AQE) plan with its
    SQL metrics normalized: timings in seconds, sizes in bytes."""
    jvm = spark.sparkContext._jvm
    root = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []
    todo = [root]
    while todo:
        node = todo.pop()
        metrics: dict[str, float] = {}
        jm = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
        for k in jm.keySet():
            m = jm.get(k)
            v = float(m.value())
            kind = m.metricType()
            if kind == "timing":
                v /= 1e3
            elif kind == "nsTiming":
                v /= 1e9
            metrics[k] = v
        try:
            out_cols = [a.name() for a in _seq(jvm, node.output())]
        except Py4JError:  # some nodes cannot resolve their output
            out_cols = []
        out.append({
            "cls": node.getClass().getSimpleName(),
            "name": node.nodeName(),
            "metrics": metrics,
            "output": out_cols,
        })
        todo.extend(_children(jvm, node))
    return out


def _is_python(n: dict) -> bool:
    return "Python" in n["cls"] or "InPandas" in n["cls"] or "InArrow" in n["cls"]


def _is_exchange(n: dict) -> bool:
    return n["cls"] == "ShuffleExchangeExec"


def plan_summary(nodes: list[dict]) -> dict[str, float]:
    """Layer counters summed over one action's final plan."""
    def msum(pred, key):
        return sum(n["metrics"].get(key, 0.0) for n in nodes if pred(n))

    def is_scan(n):
        return n["cls"] in ("FileSourceScanExec", "BatchScanExec")

    return {
        "python_nodes": sum(1 for n in nodes if _is_python(n)),
        "python_boot_s": msum(_is_python, "pythonBootTime"),
        "python_init_s": msum(_is_python, "pythonInitTime"),
        "python_total_s": msum(_is_python, "pythonTotalTime"),
        "python_data_sent_bytes": msum(_is_python, "pythonDataSent"),
        "python_data_received_bytes": msum(_is_python, "pythonDataReceived"),
        "python_rows_received": msum(_is_python, "pythonNumRowsReceived"),
        "exchanges": sum(1 for n in nodes if _is_exchange(n)),
        "shuffle_write_bytes": msum(_is_exchange, "shuffleBytesWritten"),
        "shuffle_read_bytes": msum(_is_exchange, "localBytesRead")
        + msum(_is_exchange, "remoteBytesRead"),
        "spill_bytes": msum(lambda n: True, "spillSize"),
        "scan_s": msum(is_scan, "scanTime"),
        "scan_bytes": msum(is_scan, "filesSize"),
        "cached_scans": sum(1 for n in nodes if n["cls"] == "InMemoryTableScanExec"),
        "checkpoint_scans": sum(
            1 for n in nodes
            if n["cls"] == "RDDScanExec" and "ExistingRDD" in n["name"]
        ),
    }


def python_rows_out(nodes: list[dict], column: str) -> float:
    """Rows returned by the Python nodes whose output has ``column``."""
    return sum(
        n["metrics"].get("pythonNumRowsReceived", 0.0)
        for n in nodes if _is_python(n) and column in n["output"]
    )


# ---------------------------------------------------------------------------
# Jobs, stages and tasks
# ---------------------------------------------------------------------------

def group_stages(spark, group: str) -> list[dict]:
    """Stages of every job run under job group ``group``: task count from
    the status tracker, task run times from the status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    stages: dict[int, dict] = {}
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        if job is None:
            continue
        for sid in job.stageIds:
            if sid in stages:
                continue
            info = tracker.getStageInfo(sid)
            if info is None or info.numTasks == 0:
                continue  # skipped stage (reused shuffle)
            tasks = _seq(
                sc._jvm, store.taskList(sid, info.currentAttemptId, 1 << 20)
            )
            run = sorted(
                t.taskMetrics().get().executorRunTime() / 1e3
                for t in tasks if t.taskMetrics().isDefined()
            )
            stages[sid] = {
                "stage": sid,
                "tasks": info.numTasks,
                "failed_tasks": info.numFailedTasks,
                "task_run_s": run,
            }
    return [stages[k] for k in sorted(stages)]


def task_skew(stages: list[dict]) -> float:
    """max/median task run time of the stage holding the most task time."""
    busiest = max(
        (s for s in stages if s["task_run_s"]),
        key=lambda s: sum(s["task_run_s"]),
        default=None,
    )
    if busiest is None:
        return 0.0
    run = busiest["task_run_s"]
    med = run[len(run) // 2] if len(run) % 2 else (
        run[len(run) // 2 - 1] + run[len(run) // 2]
    ) / 2
    return run[-1] / med if med > 0 else 0.0


def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


# ---------------------------------------------------------------------------
# Peak RSS of this process and all its descendants (driver JVM, Python
# workers)
# ---------------------------------------------------------------------------

def _children_pids(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def descendant_pids(root: int) -> list[int]:
    """Every live descendant of ``root``, parents before children."""
    out: list[int] = []
    todo = _children_pids(root)
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(_children_pids(pid))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(_children_pids(pid))
    return total


class PeakRss:
    """Samples the process tree's summed RSS every ``interval`` seconds on
    a daemon thread; ``stop()`` joins it and returns the peak in bytes."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
