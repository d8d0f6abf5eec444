"""The one parquet table reader: each table's schema is inferred once per
SparkSession and reused while the table's files stay unchanged.

``spark.read.parquet(path)`` infers the schema from a file footer, and
reading that footer is a Spark job. A query that scans k tables would pay
k such jobs at build time, on every call. Given the schema,
``spark.read.schema(s).parquet(path)`` runs none.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from ..session import session_state


def _fingerprint(path: str):
    """What identifies the contents at ``path`` in one listing: (inode,
    size, mtime_ns) for a single file; the sorted (relative name, size,
    mtime_ns) of every file under a directory (a Spark-written table).
    None when the path cannot be stat'ed (a URI, a glob, a file that
    vanished mid-listing)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                p = os.path.join(root, n)
                s = os.stat(p)
                files.append((os.path.relpath(p, path), s.st_size, s.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job after
    the first read of a table in this session.

    The inferred schema is kept in the session's state
    (:func:`igtdetect_spark.session.session_state`), keyed on the absolute
    path and the :func:`_fingerprint` of its files, so a table rewritten
    at the same path (new files, sizes or mtimes) is inferred again: a
    stale schema would read missing columns as nulls without an error. A
    path that cannot be stat'ed is read with inference every time."""
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    schemas = session_state(spark).schemas
    key = os.path.abspath(path)
    hit = schemas.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = (fp, df.schema)
    return df
