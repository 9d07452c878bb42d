"""Prove the benchmark steady: run every workload on several seeds and
report, per end-to-end metric, the spread between the first and third
quartile as a share of the median.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/runs/steady-1.json
    python3 perfbench/steady.py --seeds 7,7 --trace 1 --workloads mix-sf0.001

Runs one process at a time from the repository root, so runs never
compete for cores.  The workloads take turns, seed by seed, so a burst
of load on the host falls on both of them rather than on one set.
The record is rewritten after every run.  With `--trace 1` it also
compares the deterministic counters (`operators.py4j_calls`,
`spark.stages`, `plans.exchanges`) across the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DETERMINISTIC = ("operators.py4j_calls", "spark.stages", "plans.exchanges")


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def one_run(bench: dict, wl: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", wl, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    last = lines[-1] if lines else "{}"
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        res = {}
    print(f"{wl} seed={seed} exit={proc.returncode} wall={wall:.1f}s {last[:400]}", flush=True)
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": res,
            "log": [ln[:1000] for ln in lines[:-1]]}


def summarize(runs: list[dict], trace: int) -> dict:
    summary = {}
    ok = [r["result"] for r in runs if r["result"].get("metrics")]
    for m in ok[0]["metrics"] if ok else {}:
        vals = [r["metrics"][m]["value"] for r in ok]
        summary[m] = {
            "median": statistics.median(vals),
            "iqr_over_median": spread(vals) if len(vals) >= 2 else None,
            "values": vals,
        }
    if trace and ok:
        summary["repeat_exactly"] = {
            m: len({r["metrics"][m]["value"] for r in ok}) == 1 for m in DETERMINISTIC
        }
    return {
        "runs": runs,
        "summary": summary,
        "all_correct": all(r["result"].get("correct") for r in runs),
        "max_wall_s": max(r["wall_s"] for r in runs),
    }


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    workloads = args.workloads.split(",")
    record: dict = {"seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    runs: dict[str, list] = {wl: [] for wl in workloads}
    for seed in args.seeds:
        for wl in workloads:
            runs[wl].append(one_run(bench, wl, seed, args.trace))
            record["workloads"] = {w: summarize(r, args.trace) for w, r in runs.items() if r}
            if args.out:
                os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
                with open(args.out, "w") as fh:
                    json.dump(record, fh, indent=1)
    for wl, rec in record["workloads"].items():
        for m, s in rec["summary"].items():
            shown = s if m == "repeat_exactly" else {k: v for k, v in s.items() if k != "values"}
            print(f"  {wl} {m}: {json.dumps(shown)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
