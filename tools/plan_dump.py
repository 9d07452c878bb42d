#!/usr/bin/env python
"""Dump `.explain("formatted")` of registry queries to
plans/<round>/<query>_{before,after}.txt — the plan evidence of a
change.  Usage:

    python tools/plan_dump.py <round> before [--sf DIR] [name ...]
    python tools/plan_dump.py <round> after  [--sf DIR] [name ...]

With no names, dumps every bench-flagged query.  Plans are captured
at sf0.001 (the checked-in `perfbench/data/sf0.001` copy unless
`--sf` names another directory) in COLD state (tracked persists
released between queries).  Expression IDs (`#123`) become `#_`,
exchange plan IDs `plan_id=_`, Python lambda variables their bare
name, the data directory `<sf>` and scratch layouts `<scratch>`, so
`diff` of a before and an after dump is empty exactly when the plans
match — even when the two dumps were taken from different checkouts.

To capture the "before" side, copy this script into a checkout of the
parent commit and run it there with the same `<round>`.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from damg7245_casestudy_03_ai_scoring_engine_spark.functions.cache import release_all  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.plans.inspect import explain_str  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.session import get_spark  # noqa: E402

# Run-specific tokens: expression IDs, exchange plan IDs, the
# process-wide counter pyspark appends to a Python lambda's variable
# names (`lambda x_272`), and the mkdtemp-named scratch layouts some
# queries write and then scan.
_RUN_TOKENS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+#_"), r"\1#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"file:\S*/spark_graft_scratch_[^\]\s,]*"), "<scratch>"),
)


def normalize(plan: str, sf_dir: str) -> str:
    plan = plan.replace(os.path.abspath(sf_dir), "<sf>")
    for pattern, token in _RUN_TOKENS:
        plan = pattern.sub(token, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("round", help="output directory under plans/")
    ap.add_argument("side", choices=("before", "after"))
    ap.add_argument("names", nargs="*", help="registry queries (default: bench=True)")
    ap.add_argument("--sf", default=os.path.join(ROOT, "perfbench", "data", "sf0.001"))
    args = ap.parse_intermixed_args()
    out_dir = os.path.join(ROOT, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"plan-dump-{args.round}", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or sorted(n for n, s in REGISTRY.items() if s.bench)
    for name in names:
        s = normalize(explain_str(REGISTRY[name].fn(spark, args.sf)), args.sf)
        with open(os.path.join(out_dir, f"{name}_{args.side}.txt"), "w") as fh:
            fh.write(s if s.endswith("\n") else s + "\n")
        release_all()
        print(f"{name}: {s.count('Exchange ')} exchanges")
    spark.stop()


if __name__ == "__main__":
    main()
