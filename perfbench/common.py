"""Shared pieces of the benchmark workloads: the Spark session, the
checksum that forces a result, and the order statistics every metric is
reported with."""

from __future__ import annotations

import os
import signal
import subprocess
import time

CORES = 4
MASTER = f"local[{CORES}]"


def work_dirs(work: str) -> dict[str, str]:
    d = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    return d


def new_session(work: str, master: str = MASTER):
    """A Spark session through the program's own ``build_session``, with every
    scratch directory inside ``work``."""
    from igtdetect_spark.session import build_session

    d = work_dirs(work)
    spark = build_session(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": d["spark-local"],
            "spark.sql.warehouse.dir": d["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={d['tmp']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_time(pid: int) -> str | None:
    """The process's start time in clock ticks (field 22 of
    /proc/PID/stat), or None once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def stop_processes(timeout: float = 30.0) -> None:
    """Ends the Spark driver JVM this process launched and every process
    below it (the Python worker daemon and its workers), and waits until
    each has ended. Call after the last ``spark.stop()``."""
    from pyspark import SparkContext

    from .trace import descendant_pids

    # (pid, start time) pairs, so a recycled pid is never signalled
    tree = [(p, t) for p in descendant_pids(os.getpid())
            if (t := _start_time(p)) is not None]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout / 2)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None

    def alive():
        return [(p, t) for p, t in tree if _start_time(p) == t]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = alive()
        for pid, _ in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout / 4
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = alive()
        if not left:
            return
    raise RuntimeError(f"processes still running: {[p for p, _ in alive()]}")


def checksum_df(df):
    """bench.py's force: row count plus bit_xor(xxhash64(*)), which makes
    Spark compute every output column (maps go through to_json)."""
    def col(f):
        if "map<" in f.dataType.simpleString():
            return f"to_json(`{f.name}`)"
        return f"`{f.name}`"

    cols = ", ".join(col(f) for f in df.schema.fields)
    return df.selectExpr("count(1) AS n", f"bit_xor(xxhash64({cols})) AS chk")


def run_checksum(df) -> tuple[int, int]:
    row = df.collect()[0]
    return int(row["n"]), int(row["chk"] if row["chk"] is not None else 0)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest order statistic with at least ``beyond`` samples above
    it: (value, 1-based rank, sample count). Fewer than ``beyond`` + 1
    samples give the minimum."""
    s = sorted(xs)
    rank = max(1, len(s) - beyond)
    return s[rank - 1], rank, len(s)


class Clock:
    """Closed-loop window: ``more()`` is true until ``seconds`` elapsed
    and at least ``min_ops`` operations were recorded."""

    def __init__(self, seconds: float, min_ops: int = 1):
        self.seconds = seconds
        self.min_ops = min_ops
        self.ops = 0
        self.t0 = time.perf_counter()

    def more(self) -> bool:
        return (self.ops < self.min_ops
                or time.perf_counter() - self.t0 < self.seconds)

    def tick(self):
        self.ops += 1
