"""Org-AI-R benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload mix-sf0.001 --seed 1 --seconds 16 --trace 0

Run from the repository root.  Prints human-readable lines (errors,
sample sizes, tail percentiles) and, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}.  `--trace 0`
reports the end-to-end metrics; `--trace 1` reports the per-layer
metrics and writes the full trace (spans, per-op counters, self time
per layer, tracing overhead) to
`.perfbench_out/trace-<workload>-seed<seed>.json`.

Every file the run writes — inputs, scratch, Spark local dirs, JVM
temp files — lives under `.perfbench_run/` in the current directory
and is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "damg7245_casestudy_03_ai_scoring_engine_spark"
WORKLOADS = {"mix-sf0.001": ("mix", 0.001), "ingest-sf0.1": ("ingest", 0.1)}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


@contextlib.contextmanager
def isolated(work: str):
    """Point every temp/scratch location of Python, Spark and the JVM
    into `work` while the block runs, yielding the extra Spark confs;
    afterwards delete `work` and restore the environment."""
    keys = ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH", "SPARK_DRIVER_MEM")
    saved_env = {k: os.environ.get(k) for k in keys}
    saved_tempdir = tempfile.tempdir
    os.environ.pop("SPARK_DRIVER_MEM", None)  # the session's own default heap
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    tempfile.tempdir = tmp
    try:
        yield {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = saved_tempdir


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave it running
            proc.kill()
            proc.wait(timeout=30)
    # let a later session in this interpreter launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    kind, sf = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    with isolated(work) as conf:
        spark = None
        try:
            from importlib import import_module

            t0 = time.perf_counter()
            session = import_module(f"{PKG}.session")
            import_module(f"{PKG}.operators")
            cpus = len(os.sched_getaffinity(0))
            spark = session.get_spark(
                "perfbench", cpus=cpus, shuffle_partitions=min(32, cpus), extra_conf=conf
            )
            spark.sparkContext.setLogLevel("ERROR")
            session_start_s = time.perf_counter() - t0

            import workloads

            run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), T_START)
            if kind == "mix":
                workloads.run_mix(run, sf)
            else:
                workloads.run_ingest(run, sf)

            metrics = run.per_layer(session_start_s) if args.trace else run.end_to_end()
            if args.trace:
                out = os.path.join(root, ".perfbench_out")
                os.makedirs(out, exist_ok=True)
                path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
                with open(path, "w") as fh:
                    json.dump(run.artifact(session_start_s), fh, indent=1, default=str)
                print(f"trace written: {os.path.relpath(path, root)}")
            for line in run.summary_lines():
                print(line)
            result = {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        finally:
            if spark is not None:
                stop_spark(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
