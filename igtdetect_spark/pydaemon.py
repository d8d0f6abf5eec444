"""Custom PySpark worker daemon (``spark.python.daemon.module``).

**Start-up: import pyspark from bytecode.** Spark puts its own
``$SPARK_HOME/python/lib/pyspark.zip`` and py4j zip first on the
daemon's PYTHONPATH. The zip holds only ``.py`` sources and zipimport
never writes bytecode, so every daemon start (and so every fresh
SparkContext, and every executor) compiled ``pyspark.worker`` and its
imports from source. Before its first pyspark import this module moves
the two zips to right after the installed ``site-packages`` copy when
that copy is the same code (``prefer_installed_spark``: same
``__version__``, and the CRC32 in the zip's central directory matches
every module both hold); otherwise ``sys.path`` stays exactly as Spark
set it. No option turns it on or off. Measured (4 cores, pyspark
4.1.2): the daemon's import 0.72–0.98 s → 0.21–0.25 s (5 starts each);
the first Python action of a fresh SparkContext on a running JVM
(perfbench ``setup.warmup``, later rounds) 1.66–2.13 s → 0.97–1.22 s.

**Per task:** eliminates a measured ~200 ms/task serial stall in stock
pyspark's worker loop. Every Python task boot calls
``worker_util.setup_spark_files`` → ``importlib.invalidate_caches()``,
and on CPython 3.11 every ``zipimporter.invalidate_caches()`` eagerly
re-parses its archive's central directory. A worker whose ``sys.path``
carries pyspark.zip (one zipimporter per imported subpackage path — ~15
of them) plus the Spark jars re-reads ~200 ms of zip directories per
task; the stock daemon reuse loop adds a full-heap ``gc.collect()``
after every task. Measured here: 199 ms p50 inter-task gap per worker,
~1 ms of it actual UDF work — the tax is paid by EVERY task of EVERY
Python stage on EVERY executor core, and it is pure serial dead time
(the worker is single-threaded between tasks, so it cannot overlap
compute).

Three changes, all semantics-preserving:

1. **Change-aware spark-files setup**: re-implements
   ``setup_spark_files`` to call ``importlib.invalidate_caches()`` only
   when the (files-dir, python-includes) pair differs from the previous
   task's. Import caches can only go stale when the include list
   changes (``sc.addPyFile`` mid-session — which this keeps correct);
   identical includes ⇒ identical path set ⇒ nothing to invalidate.
2. **gc.freeze() in the daemon** after its own (pyspark-only) imports —
   the boot heap moves into CPython's permanent generation, which the
   reuse loop's per-task ``gc.collect()`` never scans. Freezing before
   fork is also the documented CPython recipe for keeping
   copy-on-write pages shared.
3. **gc.freeze() once per worker after its FIRST task** — by then the
   task has imported pandas/pyarrow/numpy (another ~70k objects the
   per-task collect would otherwise sweep forever). Only the first
   task's survivors are pinned (modules, broadcast registry — state
   that lives for the worker's lifetime anyway), so repeated freezing
   cannot accrete per-task garbage.

Deliberately does NOT pre-import numpy/pandas/pyarrow in the daemon:
those libraries start background threads (BLAS pools, Arrow memory
management), and the daemon must stay single-threaded — ``fork()`` from
a multithreaded process can deadlock the child on locks held by
threads that do not survive the fork. (Round-3 postmortem: an earlier
revision pre-imported them; under load, daemons went multithreaded and
forked workers never came up, hanging executor reads forever.) That
holds with the bytecode start too: those libraries still load in each
worker's first task, after the fork.

Effect (local[8], 64 empty tasks): 1.9 s → ~0.5 s wall; per-task boot
~200 ms → <20 ms steady-state. At cluster scale this is ~5 core-hours
of dead time removed per 100k-task Python stage.

Change 1 still pays once pyspark loads from bytecode: Spark's zips stay
on ``sys.path`` behind site-packages, next to the spark-core jar and
the shipped package zip, and the stock ``invalidate_caches()`` re-reads
all their directories. Re-measured (local[4], 64 empty tasks, package
shipped, median of 7 after warm-up, 3 runs each): 0.81–0.93 s with the
clone against 1.57–2.04 s with the stock function, ~55 ms a task.
Before the start-up switch the stock function took 2.8–3.6 s.

Set ``IGT_PYDAEMON_TIMING=1`` (executor env) to log one start line
(import seconds, where pyspark was loaded from, and why ``sys.path``
was kept when it was) plus per-task worker_main / gc timings to
executor stderr.

Activated by ``session.build_session`` via
``spark.python.daemon.module=igtdetect_spark.pydaemon``; usable as a
plain ``python -m`` target on any executor image where this package is
on PYTHONPATH (ship it with --py-files).
"""

import gc
import importlib
import os
import re
import sys
import time
import zipfile
import zlib

_SPARK_PACKAGES = ("pyspark", "py4j")
_VERSION_RE = re.compile(
    rb"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M
)


def _version(text: bytes | None) -> str | None:
    m = _VERSION_RE.search(text or b"")
    return m.group(1).decode() if m else None


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def _read_spark_zip(
    entry: str,
) -> tuple[dict[str, str | None], dict[str, int]] | None:
    """``(versions, crcs)`` of a ``sys.path`` zip holding pyspark or py4j:
    each such package's ``__version__`` and every ``.py`` member's CRC32
    from the central directory. None for any other entry."""
    if not entry.endswith(".zip") or not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            crcs = {
                i.filename: i.CRC
                for i in z.infolist()
                if i.filename.endswith(".py")
            }
            versions = {
                p: _version(
                    z.read(f"{p}/version.py") if f"{p}/version.py" in crcs
                    else None
                )
                for p in _SPARK_PACKAGES
                if f"{p}/__init__.py" in crcs
            }
    except (OSError, zipfile.BadZipFile):
        return None
    return (versions, crcs) if versions else None


def prefer_installed_spark(path: list[str]) -> tuple[list[str], str | None]:
    """Where to load pyspark/py4j from: ``(new sys.path, reason kept)``.

    Spark puts its source-only ``python/lib/pyspark.zip`` and py4j zip
    first on the worker's PYTHONPATH; zipimport never writes bytecode, so
    every daemon start compiles pyspark from source. When an installed
    copy of each zipped package is on ``path`` and is the same code (same
    ``__version__``, and every module both hold has the CRC32 the zip's
    central directory records), the zips move to right after the last
    installed directory, so imports load its cached bytecode. Otherwise
    the path comes back unchanged, with the reason.
    """
    spark_zips = {}
    for entry in path:
        found = _read_spark_zip(entry)
        if found is not None:
            spark_zips[entry] = found
    if not spark_zips:
        return list(path), "no Spark zip on sys.path"
    rest = [e for e in path if e not in spark_zips]
    last = -1
    for entry, (versions, crcs) in spark_zips.items():
        for pkg, version in versions.items():
            where = next(
                (
                    i
                    for i, d in enumerate(rest)
                    if os.path.isfile(os.path.join(d, pkg, "__init__.py"))
                ),
                None,
            )
            if where is None:
                return list(path), f"{pkg}: no installed copy on sys.path"
            site = rest[where]
            installed = _version(_read(os.path.join(site, pkg, "version.py")))
            if version is None or version != installed:
                return list(path), (
                    f"{pkg} {version} in {entry}, {installed} in {site}"
                )
            for name, crc in crcs.items():
                if not name.startswith(f"{pkg}/"):
                    continue
                data = _read(os.path.join(site, name))
                if data is not None and zlib.crc32(data) != crc:
                    return list(path), (
                        f"{name} differs between {entry} and {site}"
                    )
            last = max(last, where)
    zips = [e for e in path if e in spark_zips]
    return rest[: last + 1] + zips + rest[last + 1 :], None


# sha256 of inspect.getsource(pyspark.worker_util.setup_spark_files) for
# the pyspark version this clone was written against. The clone below
# re-implements that function's WIRE PROTOCOL (the exact sequence of
# reads from ``infile``); a pyspark upgrade that changes the protocol
# would silently desynchronize the worker stream — hangs or corrupt task
# input, not a clean error. The signature guard turns that into a loud
# fallback to the stock implementation.
_SETUP_SPARK_FILES_SHA256 = (
    "fdbcb9682a6c733a3337a7374713f2d8ef7d08388a91f542b77670a31aa28d43"
)


# set by _install_spark_files_cache at import: whether the stock source
# matched the pin (i.e. whether the fast clone is installed).
_SIGNATURE_OK: bool | None = None


def _stock_setup_spark_files_matches() -> bool:
    """True iff the CURRENT stock ``setup_spark_files`` (call this before
    patching) hashes to the pinned signature."""
    import hashlib
    import inspect

    import pyspark.worker_util as _wu

    try:
        src = inspect.getsource(_wu.setup_spark_files)
    except (OSError, TypeError):
        return False
    return hashlib.sha256(src.encode()).hexdigest() == _SETUP_SPARK_FILES_SHA256


def _install_spark_files_cache() -> None:
    """Replace worker_util.setup_spark_files with a change-aware clone.

    Mirrors pyspark/worker_util.py:124-144 exactly, except
    ``importlib.invalidate_caches()`` runs only when the includes
    actually changed. The wire protocol (reads from ``infile``) is
    byte-identical, so this tracks the stock implementation — and is
    only installed when the stock source still matches the pinned
    signature above (otherwise the stock function stays in place and a
    warning goes to executor stderr).
    """
    global _SIGNATURE_OK

    import pyspark.worker as _worker
    import pyspark.worker_util as _wu

    _SIGNATURE_OK = _stock_setup_spark_files_matches()
    if not _SIGNATURE_OK:
        import pyspark

        sys.stderr.write(
            "[pydaemon] WARNING: pyspark.worker_util.setup_spark_files "
            f"source changed (pyspark {pyspark.__version__}); keeping the "
            "stock implementation — per-task import-cache invalidation "
            "tax returns until the clone is re-verified.\n"
        )
        return

    state: dict = {"key": None}

    def setup_spark_files(infile):
        spark_files_dir = _wu.utf8_deserializer.loads(infile)

        from pyspark.core.files import SparkFiles

        SparkFiles._root_directory = spark_files_dir
        SparkFiles._is_running_on_worker = True

        _wu.add_path(spark_files_dir)
        includes = tuple(
            _wu.utf8_deserializer.loads(infile)
            for _ in range(_wu.read_int(infile))
        )
        for filename in includes:
            _wu.add_path(os.path.join(spark_files_dir, filename))

        key = (spark_files_dir, includes)
        if key != state["key"]:
            importlib.invalidate_caches()
            state["key"] = key

    # worker.py binds the name at import time — patch both bindings.
    _wu.setup_spark_files = setup_spark_files
    _worker.setup_spark_files = setup_spark_files


def _install_worker_freeze() -> None:
    """Freeze the worker heap once, after the first task completes.

    Runs INSIDE the forked worker (the daemon's reuse loop calls
    ``worker_main`` through this wrapper). After task 1 the heavy
    libraries are loaded; freezing then makes every later per-task
    ``gc.collect()`` in the reuse loop sweep only that task's own
    allocations.
    """
    import pyspark.daemon as _daemon

    _orig_main = _daemon.worker_main
    frozen = {"done": False}

    def main_then_freeze(infile, outfile):
        r = _orig_main(infile, outfile)
        if not frozen["done"]:
            gc.collect()
            gc.freeze()
            frozen["done"] = True
        return r

    _daemon.worker_main = main_then_freeze


def _install_timing() -> None:
    import pyspark.daemon as _daemon

    _orig_main = _daemon.worker_main
    _orig_collect = gc.collect

    def _timed_main(infile, outfile):
        t0 = time.time()
        r = _orig_main(infile, outfile)
        sys.stderr.write(
            f"[pydaemon] worker_main {(time.time() - t0) * 1000:.1f}ms\n"
        )
        return r

    def _timed_collect(*a, **k):
        t0 = time.time()
        n = _orig_collect(*a, **k)
        sys.stderr.write(
            f"[pydaemon] gc.collect {(time.time() - t0) * 1000:.1f}ms "
            f"({n} collected)\n"
        )
        return n

    _daemon.worker_main = _timed_main
    gc.collect = _timed_collect


_t0 = time.perf_counter()
sys.path[:], _kept_reason = prefer_installed_spark(sys.path)
_install_spark_files_cache()
_install_worker_freeze()
gc.freeze()

if os.environ.get("IGT_PYDAEMON_TIMING"):
    import pyspark

    sys.stderr.write(
        f"[pydaemon] start: import {time.perf_counter() - _t0:.3f}s, "
        f"pyspark from {os.path.dirname(pyspark.__file__)}"
        + (f", kept sys.path: {_kept_reason}" if _kept_reason else "")
        + "\n"
    )
    _install_timing()


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
