"""The measurement path: bench.py's timing loop and the per-query
profile that `tools/query_profile.py` builds on it."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import bench  # noqa: E402
import query_profile  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY  # noqa: E402

QUERY = "fact_join_agg"
TIMES = {"wall_s", "build_s", "exec_s"}
COUNTERS = {
    "py4j_calls",
    "jobs",
    "stages",
    "single_task_stages",
    "tasks",
    "task_busy_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exchanges",
    "python_nodes",
}


def _split_adds_up(row: dict) -> bool:
    return abs(row["build_s"] + row["exec_s"] - row["wall_s"]) <= 0.05 * row["wall_s"]


def test_time_queries_splits_each_pass_median_into_build_and_exec(spark):
    t = bench.time_queries(spark, {QUERY: REGISTRY[QUERY]}, SF_SMOKE)
    assert t.warmup_failures == {} and t.failures(QUERY) == {}
    assert len(t.passes) == 2
    for medians in t.passes:
        rep = medians[QUERY]
        assert set(rep) == TIMES
        assert rep["wall_s"] > 0 and rep["build_s"] > 0 and rep["exec_s"] > 0
        assert _split_adds_up(rep), rep
    assert t.best(QUERY)["wall_s"] == min(m[QUERY]["wall_s"] for m in t.passes)


def test_profile_row_counters_repeat_exactly(spark):
    specs = {QUERY: REGISTRY[QUERY]}
    first, second = (query_profile.profile(spark, specs, SF_SMOKE) for _ in range(2))
    assert len(first) == len(second) == 1
    a, b = first[0], second[0]
    assert set(a) == {"query"} | TIMES | COUNTERS
    assert a["query"] == QUERY
    assert _split_adds_up(a), a
    assert a["py4j_calls"] > 0 and a["jobs"] > 0
    for key in ("py4j_calls", "jobs", "exchanges"):
        assert a[key] == b[key], (key, a, b)
