"""Materialized relations belong to the query that built them: every
relation ``materialize`` takes while a ``scoped`` function runs is a
release handle of the frame that function returns, and
``release_plan_caches`` on a registry query's result leaves no persistent
RDD behind."""

import pytest

from __spark_entry__ import SF_SMOKE_DIR
from igtdetect_spark.entry_queries import queries
from igtdetect_spark.operators.dedup import (
    materialize,
    release_plan_caches,
    scoped,
)
from perfbench.common import checksum_df, run_checksum
from perfbench.trace import persistent_rdd_ids

# the flagship queries read the reference lexicons and materialize nothing
FLAGSHIP = {"igt_classify_lines", "igt_detect_spans"}


def test_materialize_outside_scope_raises(spark):
    with pytest.raises(RuntimeError, match="outside any @scoped"):
        materialize(spark.range(3), "persist")


def test_nested_scopes_hand_handles_to_the_enclosing_scope(spark):
    @scoped
    def inner():
        return materialize(spark.range(3), "local").select("id")

    @scoped
    def outer():
        a = inner()
        b = materialize(spark.range(4), "persist")
        return a.union(b)

    before = persistent_rdd_ids(spark)
    out = outer()
    assert out.count() == 7
    assert release_plan_caches(out) == 2
    assert persistent_rdd_ids(spark) - before == set()


def test_scope_releases_its_handles_when_the_function_raises(spark):
    @scoped
    def failing():
        materialize(spark.range(3), "local")
        raise ValueError("boom")

    before = persistent_rdd_ids(spark)
    with pytest.raises(ValueError):
        failing()
    assert persistent_rdd_ids(spark) - before == set()


@pytest.mark.parametrize(
    "name", [q for q in queries() if q not in FLAGSHIP]
)
def test_query_leaves_no_persistent_rdd(spark, name):
    # RDDs that earlier tests left behind may be cleaned up while the
    # query runs, so the check is for new RDDs, not set equality
    before = persistent_rdd_ids(spark)
    df = queries()[name](spark, SF_SMOKE_DIR)
    run_checksum(checksum_df(df))
    release_plan_caches(df)
    assert persistent_rdd_ids(spark) - before == set()
