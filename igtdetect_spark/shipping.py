"""Package shipping for executors (the programmatic twin of
``spark-submit --py-files``, BASELINE.json north_star).

Local-mode python workers inherit the driver's PYTHONPATH only when the
driver happens to run from the repo; ``ensure_package_shipped`` makes the
engine location-independent by zipping ``igtdetect_spark`` once per
source content and ``addPyFile``-ing it — workers then import from the
shipped archive on any cluster manager.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import SparkSession

from .session import session_state


def package_zip_path(pkg_dir: str | None = None, out_dir: str = "/tmp") -> str:
    """Build (once per source content) a zip of the igtdetect_spark package.

    The archive is named by a hash of the package sources, so two
    checkouts with different code never share one, whatever their file
    times (py-files go ahead of PYTHONPATH on the workers).
    """
    if pkg_dir is None:
        import igtdetect_spark

        pkg_dir = os.path.dirname(os.path.abspath(igtdetect_spark.__file__))
    sources = sorted(
        os.path.relpath(os.path.join(root, f), pkg_dir)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    h = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(pkg_dir, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    out = os.path.join(
        out_dir, f"igtdetect_spark_pyfiles-{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel in sources:
                z.write(
                    os.path.join(pkg_dir, rel),
                    os.path.join("igtdetect_spark", rel),
                )
        os.replace(tmp, out)
    return out


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotent per-session addPyFile of the engine package."""
    st = session_state(spark)
    if st.shipped is not None:
        return
    path = package_zip_path()
    try:
        spark.sparkContext.addPyFile(path)
    except Exception:
        # already added under the same name in this context — fine
        pass
    st.shipped = path
