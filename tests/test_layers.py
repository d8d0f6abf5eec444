"""Smoke test for tools/layers.py, the per-query layer record: the
benchmark's per-query step over a Python-node query (simhash) and one
whose build runs Spark jobs but takes no checkpoint (crawl_depth, whose
BFS hops are collected to the driver)."""

import importlib.util
import os

import pytest

from __spark_entry__ import SF_SMOKE_DIR

QUERIES = ["simhash", "crawl_depth"]
FIELDS = {
    "query", "error", "cold_s", "cold", "traced", "wall_s", "build_s",
    "plan_s", "exec_s", "release_plan_caches_s", "leaked_rdds",
    "build_jobs", "plan", "stages",
}
PLAN_FIELDS = {
    "python_nodes", "python_boot_s", "python_init_s", "python_total_s",
    "python_data_sent_bytes", "python_data_received_bytes", "exchanges",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "cached_scans", "checkpoint_scans",
}


@pytest.fixture(scope="module")
def layers():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "layers.py")
    spec = importlib.util.spec_from_file_location("layers", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def records(spark, layers):
    from igtdetect_spark.entry_queries import queries

    # the runner's session conf (codegen fallback off), restored afterwards
    prev = {k: spark.conf.get(k) for k in layers.CONF}
    try:
        for k, v in layers.CONF.items():
            spark.conf.set(k, v)
        reg = layers.registry(spark, SF_SMOKE_DIR, queries())
        return {q: layers.measure(reg, q, f"layers-test-{q}")
                for q in QUERIES + ["no_such_query"]}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("q", QUERIES)
def test_record_is_complete_and_consistent(records, q):
    r = records[q]
    assert r["error"] is None
    assert FIELDS <= set(r)
    assert PLAN_FIELDS <= set(r["plan"])
    assert r["cold"] == r["traced"]
    assert r["stages"]
    assert r["leaked_rdds"] == 0


def test_spans_cover_wall(records):
    rs = [records[q] for q in QUERIES]
    spans = sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in rs)
    assert spans >= 0.95 * sum(r["wall_s"] for r in rs)


def test_layers_show_query_shape(records):
    assert records["simhash"]["plan"]["python_nodes"] >= 1
    assert records["crawl_depth"]["build_jobs"] > 1
    assert records["crawl_depth"]["plan"]["checkpoint_scans"] == 0


def test_failing_query_is_recorded(records, layers):
    assert records["no_such_query"]["error"].startswith("KeyError")
    tot = layers.totals(list(records.values()))
    assert (tot["queries"], tot["errors"]) == (3, 1)
