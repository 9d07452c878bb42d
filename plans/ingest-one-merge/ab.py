#!/usr/bin/env python
"""Same-JVM A/B of the incremental-scoring round: a base checkout's
`scoring.incremental` against this checkout's, in one Spark session.

    python plans/ingest-one-merge/ab.py --base <checkout>

`--base` is a second checkout of the repository (for example
`git archive <commit> | tar -x -C <dir>`); its package is imported
under another module name, so both versions run against the same JVM,
the same session and the same files.

One round is the `ingest-sf0.1` benchmark round: drop the next
micro-batch file of lineitem into the input directory, apply it
(`run_incremental_scoring`, an availableNow streaming pass that merges
partials into gold), then serve (`score_from_partials` to the noop
sink).  The file split is perfbench's (`split_lineitem`, 48 files,
seed `SEED`), on a local[`CPUS`] session.  Each side keeps its own
input, gold and checkpoint directories and gets the same file each
round.  After `WARM` untimed rounds per side, `ROUNDS` timed rounds
alternate the order of the two sides.  Per side and round it records the apply, serve and
round walls, the jobs and stages the round started (perfbench's
`SparkProbe`) and the bytes written to gold and checkpoint.  At the end
it collects the served rows of both sides and compares them exactly.

Prints a summary and writes every round to `OUT` (ab.json next to
this script) as JSON.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import workloads  # noqa: E402  (perfbench/workloads.py, read-only use)
from tracing import SparkProbe  # noqa: E402

PKG = "damg7245_casestudy_03_ai_scoring_engine_spark"
SEED = 7
WARM = 3
ROUNDS = 16
CPUS = 4
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ab.json")


def load_base(checkout: str):
    """The base checkout's package, imported as `base_pkg`."""
    pkg_dir = os.path.join(checkout, PKG)
    spec = importlib.util.spec_from_file_location(
        "base_pkg", os.path.join(pkg_dir, "__init__.py"), submodule_search_locations=[pkg_dir]
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["base_pkg"] = mod
    spec.loader.exec_module(mod)
    return importlib.import_module("base_pkg.scoring.incremental")


class Side:
    def __init__(self, name: str, inc, work: str, data: str) -> None:
        self.name, self.inc = name, inc
        self.inp = os.path.join(work, name, "input")
        self.gold = os.path.join(work, name, "gold")
        self.ckpt = os.path.join(work, name, "ckpt")
        os.makedirs(self.inp)
        for t in ("orders", "customer"):
            os.symlink(os.path.join(data, f"{t}.parquet"), os.path.join(self.inp, f"{t}.parquet"))
        self.rounds: list[dict] = []

    def round(self, spark, probe: SparkProbe, src: str) -> dict:
        os.link(src, os.path.join(self.inp, os.path.basename(src)))
        before = workloads.tree_files(self.gold, self.ckpt)
        probe.engine_since_mark()
        t0 = time.perf_counter()
        self.inc.run_incremental_scoring(spark, self.inp, self.gold, self.ckpt)
        t1 = time.perf_counter()
        self.inc.score_from_partials(spark, self.inp, self.gold).write.format("noop").mode(
            "overwrite"
        ).save()
        t2 = time.perf_counter()
        c = probe.engine_since_mark()
        return {
            "apply_s": round(t1 - t0, 4),
            "serve_s": round(t2 - t1, 4),
            "round_s": round(t2 - t0, 4),
            "jobs": c["jobs"],
            "stages": c["stages"],
            "bytes_written": workloads.bytes_written(
                before, workloads.tree_files(self.gold, self.ckpt)
            ),
        }

    def served(self, spark) -> list[tuple]:
        rows = self.inc.score_from_partials(spark, self.inp, self.gold).collect()
        return sorted(tuple(sorted(r.asDict().items())) for r in rows)


def summary(rounds: list[dict]) -> dict:
    med = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
    q = statistics.quantiles([r["round_s"] for r in rounds], n=4)
    return {**med, "round_s_q1": round(q[0], 4), "round_s_q3": round(q[2], 4), "n": len(rounds)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    args = ap.parse_args()

    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring import incremental
    from damg7245_casestudy_03_ai_scoring_engine_spark.session import get_spark

    base = load_base(args.base)
    work = tempfile.mkdtemp(prefix="ab-ingest-", dir=os.getcwd())
    try:
        spark = get_spark(
            "ab-ingest",
            cpus=CPUS,
            shuffle_partitions=CPUS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        data = workloads.fixture_dir(0.1)
        staged = workloads.split_lineitem(
            os.path.join(data, "lineitem.parquet"),
            os.path.join(work, "staging"),
            workloads.INGEST_FILES,
            SEED,
        )
        sides = [Side("base", base, work, data), Side("change", incremental, work, data)]
        probe = SparkProbe(spark)
        for k in range(WARM + ROUNDS):
            order = sides if k % 2 == 0 else sides[::-1]
            for side in order:
                rec = side.round(spark, probe, staged[k])
                if k >= WARM:
                    side.rounds.append({**rec, "round": k, "first": side is order[0]})
        served = {s.name: s.served(spark) for s in sides}
        identical = served["base"] == served["change"]
        out = {
            "seed": SEED,
            "cpus": CPUS,
            "warm_rounds": WARM,
            "timed_rounds": ROUNDS,
            "served_companies": len(served["change"]),
            "served_identical": identical,
            "summary": {
                s.name: summary([{k: r[k] for k in r if k not in ("round", "first")} for r in s.rounds])
                for s in sides
            },
            "rounds": {s.name: s.rounds for s in sides},
        }
        with open(OUT, "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps({k: out[k] for k in out if k != "rounds"}, indent=1))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
