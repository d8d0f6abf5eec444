"""SparkSession construction with the engine's standard configuration,
and the state the engine caches per session (:func:`session_state`).

Scale posture (SURVEY.md §4): Arrow everywhere, AQE on (skew-join +
partition coalescing), sensible shuffle-partition default for local mode —
on a real cluster these come from spark-submit conf instead.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "igtdetect_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    # Custom worker daemon (pydaemon.py): kills a measured ~200 ms/task
    # serial boot tax (per-task zip-directory re-parse in
    # importlib.invalidate_caches + full-heap gc.collect in the reuse
    # loop). The daemon module must be importable by a bare
    # `python -m`, so make sure the package's parent dir rides on the
    # PYTHONPATH the JVM (and thus the daemon) inherits. Must happen
    # before the JVM launches; a no-op when already present.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else "")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.python.daemon.module", "igtdetect_spark.pydaemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # reliable checkpoints (connected_components checkpoint_dir=...)
        # are deleted when their RDDs are GC'd instead of accumulating —
        # must be set before the context starts
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # spill-aware input sizing: 128 MB scan splits keep a mapInPandas
        # task's working set (Arrow batch + pandas frames + feature
        # matrix, ~3-5x the text bytes) well inside a 2-4 GB executor
        # core's share; mega-docs are one row and bypass this knob (the
        # chunked path handles them)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


class SessionState:
    """What the engine caches for one SparkSession: the shipped package
    archive, the registry's detection broadcasts and each parquet
    table's schema (:func:`igtdetect_spark.sources.parquet.read_parquet`).
    Nothing here may reference the session itself, or the session could
    never be collected."""

    __slots__ = ("shipped", "detect_ctx", "schemas")

    def __init__(self) -> None:
        self.shipped: str | None = None
        self.detect_ctx = None
        self.schemas: dict = {}


# Keyed on the session object, not ``id(spark)``: CPython reuses the id
# of a freed object, so an id-keyed cache can hand a new session the
# state (broadcasts, "already shipped") of a stopped one.
_states: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_state(spark: SparkSession) -> SessionState:
    """The :class:`SessionState` of ``spark``; it dies with the session."""
    return _states.setdefault(spark, SessionState())
