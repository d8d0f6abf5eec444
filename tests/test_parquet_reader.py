"""The per-session parquet reader (``sources/parquet.py``) and the
per-session state it lives in (``session.py:session_state``): a table's
schema is inferred once per session, a table rewritten at the same path
is inferred again, and a session's state dies with the session."""

import gc
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.session import _monkey_patch_RDD

from igtdetect_spark.entry_queries import _t
from igtdetect_spark.session import _states, session_state
from igtdetect_spark.shipping import ensure_package_shipped
from igtdetect_spark.sources.parquet import read_parquet


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _t(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = _t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    # a stale schema would read b as null (or miss it) without an error
    assert _rows(df) == [(3, "x")]


def test_rewritten_spark_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.parquet(path)
    assert _t(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([(2, "y")], "a long, b string").write.mode(
        "overwrite"
    ).parquet(path)
    df = _t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert _rows(df) == [(2, "y")]


def test_warm_read_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of_t(group):
        sc.setJobGroup(group, group)
        try:
            df = _t(spark, str(tmp_path), "t")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(tracker.getJobIdsForGroup(group))

    cold, cold_jobs = jobs_of_t(f"reader-cold-{id(tmp_path)}")
    warm, warm_jobs = jobs_of_t(f"reader-warm-{id(tmp_path)}")
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert warm.schema == cold.schema
    assert _rows(warm) == [(1,), (2,), (3,)]


def test_unstatable_path_is_inferred(spark, tmp_path):
    pq.write_table(pa.table({"a": [7]}), str(tmp_path / "t.parquet"))
    uri = f"file://{tmp_path}/t.parquet"
    assert _rows(read_parquet(spark, uri)) == [(7,)]
    assert all(not k.startswith("file:") for k in session_state(spark).schemas)


def test_state_dies_with_its_session(spark, tmp_path):
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "t.parquet"))
    other = spark.newSession()
    ensure_package_shipped(other)
    read_parquet(other, str(tmp_path / "t.parquet"))
    st = session_state(other)
    assert st.shipped is not None and len(st.schemas) == 1
    assert session_state(spark) is not st
    n, ref = len(_states), weakref.ref(other)
    del other, st
    # pyspark's RDD.toDF closure holds the newest session; point it back
    _monkey_patch_RDD(spark)
    gc.collect()
    assert ref() is None
    assert len(_states) == n - 1
