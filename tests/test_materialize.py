"""Materialized relations belong to the query that built them: every
relation ``materialize`` takes while a ``scoped`` function runs is a
release handle of the frame that function returns, and
``release_plan_caches`` on a registry query's result leaves no persistent
RDD behind. The same registry loop checks every query's plan: no Python
stage runs directly off a parquet scan (the driver tables are one row
group, so that stage would run as one task), and whole-stage codegen
compiles without falling back."""

import re

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

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas")


def python_over_scan(plan: str) -> list[str]:
    """Python evaluation nodes of a plan's ``toString()`` that reach a
    ``FileScan parquet`` with no ``Exchange`` in between, including
    through the plans printed under ``InMemoryRelation``. Parses the
    string: walking the nodes over py4j costs ~0.25 s per node."""
    nodes = []  # (depth, name, children)
    stack = []
    for line in plan.splitlines():
        name = re.sub(r"^\*\(\d+\) ", "", line.lstrip(" :+-"))
        if not name:
            continue
        node = (len(line) - len(line.lstrip(" :+-")), name, [])
        while stack and stack[-1][0] >= node[0]:
            stack.pop()
        if stack:
            stack[-1][2].append(node)
        stack.append(node)
        nodes.append(node)

    def reaches_scan(node) -> bool:
        return any(
            child[1].startswith("FileScan parquet")
            or ("Exchange" not in child[1].split(" ", 1)[0]
                and reaches_scan(child))
            for child in node[2]
        )

    return [n[1] for n in nodes
            if n[1].startswith(PYTHON_NODES) and reaches_scan(n)]


def test_python_over_scan_sees_through_cached_plans():
    plan = """HashAggregate(keys=[doc_id])
+- Exchange hashpartitioning(doc_id, 8), ENSURE_REQUIREMENTS, []
   +- InMemoryTableScan [doc_id, bucket]
         +- InMemoryRelation [doc_id, bucket], StorageLevel(disk)
               +- AdaptiveSparkPlan isFinalPlan=false
                  +- *(1) Project [doc_id, pythonUDF0 AS bucket]
                     +- ArrowEvalPython [f(text)], [pythonUDF0], 200
                        +- FileScan parquet [doc_id,text]"""
    assert python_over_scan(plan) == [
        "ArrowEvalPython [f(text)], [pythonUDF0], 200"]
    spread = plan.replace(
        "+- FileScan",
        "+- Exchange hashpartitioning(doc_id, 4), REPARTITION_BY_NUM, []\n"
        "                           +- FileScan")
    assert python_over_scan(spread) == []


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


@pytest.fixture(scope="module")
def no_codegen_fallback(spark):
    """A whole-stage codegen compile failure fails the query instead of
    silently switching to the interpreted plan."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "name", [q for q in queries() if q not in FLAGSHIP]
)
def test_query_leaves_no_persistent_rdd(spark, no_codegen_fallback, name):
    # RDDs that earlier tests left behind may be cleaned up while the
    # query runs, so the check is for new RDDs, not set equality
    before = persistent_rdd_ids(spark)
    df = queries()[name](spark, SF_SMOKE_DIR)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    unspread = python_over_scan(plan.toString())
    run_checksum(checksum_df(df))
    release_plan_caches(df)
    assert persistent_rdd_ids(spark) - before == set()
    assert unspread == [], plan.toString()
