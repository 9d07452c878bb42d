#!/usr/bin/env python
"""Per-query layer profile: where each registry query's wall time goes.

    python tools/query_profile.py [name ...]

With no names, profiles every bench-flagged query.  Data dir and
cores come from bench.py's SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
Prints one JSON line per query:

- `wall_s`, `build_s`, `exec_s`: bench.py's own loop (warm-up, two
  passes of median-of-3, min of medians), with the median rep's wall
  split into DataFrame build and noop-sink execution;
- from one more rep, run after the timed passes under perfbench's
  `SparkProbe`: `py4j_calls` sent while building the DataFrame, and
  every job, stage, task, shuffle and spill counter plus the Exchange
  and Python-worker node counts of the final (AQE) plans of the SQL
  executions the rep started.

The counts (round trips, jobs, stages, tasks, exchanges, Python
nodes) repeat exactly between runs, so they are the evidence of a
plan or driver change where the timings are noise.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.functions.cache import release_all  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY  # noqa: E402

# perfbench/ is not a package: load its tracing module from its file.
_spec = importlib.util.spec_from_file_location(
    "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
)
tracing = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tracing)


def profile(spark, specs: dict, sf_dir: str) -> list[dict]:
    """One row per query: bench timings plus one probed rep's counters."""
    timings = bench.time_queries(spark, specs, sf_dir)
    probe = tracing.SparkProbe(spark)
    rows = []
    for name, spec in specs.items():
        best = timings.best(name)
        if best is None:
            rows.append({"query": name, "failures": timings.failures(name)})
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        probe.engine_since_mark()  # drop everything before this rep
        probe.py4j_sends = 0
        probe.count_py4j(True)
        try:
            df = spec.fn(spark, sf_dir)
        finally:
            probe.count_py4j(False)
        df.write.format("noop").mode("overwrite").save()
        counters = probe.engine_since_mark()
        counters["task_busy_s"] = round(counters["task_busy_s"], 3)
        release_all()
        rows.append({"query": name, **best, "py4j_calls": probe.py4j_sends, **counters})
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry queries (default: bench=True)")
    names = ap.parse_args().names
    specs = {n: REGISTRY[n] for n in names} if names else bench.bench_specs()
    sf_dir, cpus = bench.settings()
    spark = bench.bench_session(cpus)
    for row in profile(spark, specs, sf_dir):
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
