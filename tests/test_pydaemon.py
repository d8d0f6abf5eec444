"""Worker daemon start-up: where pyspark is imported from.

``pydaemon.prefer_installed_spark`` decides, from ``sys.path`` and the
contents of Spark's zips and the installed packages alone, whether the
daemon may load pyspark/py4j from the installed (bytecode-cached) copy
instead of Spark's source-only zips.
"""

import json
import os
import subprocess
import sys
import zipfile

import pytest

from igtdetect_spark.pydaemon import prefer_installed_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PYSPARK = {
    "pyspark/__init__.py": "from pyspark.version import __version__\n",
    "pyspark/version.py": "__version__: str = '4.1.2'\n",
    "pyspark/worker.py": "def main():\n    pass\n",
}
PY4J = {
    "py4j/__init__.py": "",
    "py4j/version.py": "__version__ = '0.10.9.9'\n",
}


def _layout(tmp_path, site_overrides=None):
    """Spark's two zips (the pyspark one also holding tests the wheel
    leaves out) and an installed site directory; returns their paths."""
    lib = tmp_path / "lib"
    lib.mkdir()
    zips = []
    for name, files in (("pyspark.zip", PYSPARK), ("py4j-src.zip", PY4J)):
        zp = lib / name
        with zipfile.ZipFile(zp, "w", zipfile.ZIP_DEFLATED) as z:
            for member, text in files.items():
                z.writestr(member, text)
            if name == "pyspark.zip":
                z.writestr("pyspark/tests/test_only_in_zip.py", "x = 1\n")
        zips.append(str(zp))
    site = tmp_path / "site"
    for member, text in {**PYSPARK, **PY4J, **(site_overrides or {})}.items():
        f = site / member
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(text)
    return zips, str(site)


# the rest of the path Spark's worker factory gives the daemon, in order
JAR, REPO_DIR, STDLIB, DIST = "core.jar", "repo", "stdlib", "dist-packages"


def _spark_path(zips, site):
    return ["", *zips, JAR, REPO_DIR, STDLIB, site, DIST]


def test_matching_code_loads_installed_copy_first(tmp_path):
    zips, site = _layout(tmp_path)
    path = _spark_path(zips, site)
    new, reason = prefer_installed_spark(path)
    assert reason is None
    assert new == ["", JAR, REPO_DIR, STDLIB, site, *zips, DIST]


@pytest.mark.parametrize(
    "overrides, why",
    [
        ({"pyspark/version.py": "__version__: str = '4.1.3'\n"}, "4.1.3"),
        ({"py4j/version.py": "__version__ = '0.10.9.7'\n"}, "0.10.9.7"),
        ({"pyspark/worker.py": "def main():\n    return 1\n"},
         "pyspark/worker.py"),
    ],
    ids=["pyspark-version", "py4j-version", "one-crc32"],
)
def test_different_code_leaves_path_unchanged(tmp_path, overrides, why):
    zips, site = _layout(tmp_path, overrides)
    path = _spark_path(zips, site)
    before = list(path)
    new, reason = prefer_installed_spark(path)
    assert new == before and path == before
    assert why in reason


def test_no_installed_copy_leaves_path_unchanged(tmp_path):
    zips, _ = _layout(tmp_path)
    path = _spark_path(zips, str(tmp_path / "empty-site"))
    new, reason = prefer_installed_spark(path)
    assert new == path
    assert "no installed copy" in reason


def test_no_spark_zip_leaves_path_unchanged(tmp_path):
    """The driver and pytest: no Spark zip on the path (an unrelated zip
    is not mistaken for one)."""
    other = tmp_path / "other.zip"
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("other/__init__.py", "")
    path = [e for e in sys.path if not e.endswith(".zip")] + [str(other)]
    new, reason = prefer_installed_spark(path)
    assert new == path
    assert reason == "no Spark zip on sys.path"


_WORKER_WHERE = """
import json
from igtdetect_spark.session import build_session

spark = build_session(master="local[2]")


def where(batches):
    import pandas as pd
    import pyspark.worker as w

    for _ in batches:
        pass
    yield pd.DataFrame({"file": [w.__file__], "cached": [w.__cached__]})


rows = (spark.range(2).repartition(2)
        .mapInPandas(where, "file string, cached string").collect())
print("WHERE " + json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def test_fresh_session_workers_import_pyspark_bytecode():
    """End to end: a fresh context's Python workers run pyspark.worker
    from an installed directory with its cached bytecode, not from
    Spark's source-only zip."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_WHERE], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(s for s in out.stdout.splitlines() if s.startswith("WHERE "))
    rows = json.loads(line[len("WHERE "):])
    assert len(rows) == 2
    for r in rows:
        assert ".zip" + os.sep not in r["file"], r
        assert os.path.isfile(r["cached"]), r
