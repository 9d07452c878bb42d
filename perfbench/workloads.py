"""The benchmark's workloads: closed loop, one client, one process.

Each workload reads the fixture tables under `data/`, starts the
package's session, runs a cold op and a fixed warm-up taken from the
measured warm-up curves, measures ops for the requested seconds, ends with one audited scoring run and
then checks every output.  The seed chooses only the query order and
the micro-batch split of lineitem; the tables are the same bytes on
every seed.

An op that raises is counted as failed and its error text is kept; a
check that disagrees with its expected output is a failed op too.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from tracing import SparkProbe, Tracer, gc_seconds, heap_peak_mb

PKG = "damg7245_casestudy_03_ai_scoring_engine_spark"
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Fixed query set of the mix workload (a subset of the registry's
# bench=True headliners, the same set on every seed; see README.md).
MIX_QUERIES = (
    "ann_topk_vectorized",
    "fact_join_agg",
    "org_air_flagship",
    "regional_revenue_q5",
    "rolling_window_metrics",
    "tfidf_top_terms",
)
# A run does ceil(seconds / nominal) whole passes or rounds: a fixed
# amount of work per setting, sized so that a whole run stays well
# inside its ~70 s share of a 3420 s evaluation on a 4-core box.
MIX_PASS_NOMINAL_S = 4.0
INGEST_FILES = 48
INGEST_ROUND_NOMINAL_S = 2.7
# Untimed passes (mix, after the cold one) and rounds (ingest, the
# first of them cold), taken from the measured warm-up curves
# (README.md, "Warm-up").  The mix passes still fall slowly after them,
# in the driver-heavy queries; more warm passes would not fit the
# run's time budget.  Every run prints its curve (`warmup_*_s`).
MIX_WARMUP_PASSES = 2
INGEST_WARMUP_ROUNDS = 3

PER_OP_COUNTERS = (
    "py4j_calls jobs stages single_task_stages tasks task_busy_s "
    "shuffle_read_bytes shuffle_write_bytes spill_bytes exchanges python_nodes "
    "released cached_bytes files_discovered file_cache_hits bytes_written"
).split()


def fixture_dir(sf: float) -> str:
    """The benchmark's copy of the engine's test tables at `sf`."""
    return os.path.join(DATA, f"sf{sf}")


def write_one_row_group(table: pa.Table, path: str) -> None:
    """Parquet with a single row group, like the fixture tables."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(q * len(s))) - 1))]


def tree_files(*roots: str) -> dict[str, tuple[int, int, int]]:
    """path → (inode, size, mtime_ns) for every file under `roots`."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes in files that are new or rewritten between two snapshots."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process `root` and every live descendant (the
    JVM and its Python workers), plus what their reaped children used."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, grew = {root}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def host_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far: time this
    machine's CPUs were ready but its host ran someone else."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """State of one benchmark run: op timings, failures, traces."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, t_start: float):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.t_start = t_start
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: list[float] = []  # untraced timed op latencies (s)
        self.lat_traced: list[float] = []
        self.timed_wall = 0.0
        self.timed_ops = 0
        self.timed_gc_s = 0.0
        # per untraced timed pass (or round): (ops, wall s, cpu s)
        self.passes: list[tuple[int, float, float]] = []
        self.in_timed = False
        self.setup_s = 0.0
        self.audit_s = 0.0
        self.written = 0
        self.input_bytes = 0
        self.notes: dict = {}
        self.trace = trace
        self.tracer = Tracer() if trace else None
        self.probe: SparkProbe | None = None
        self.op_counters: list[dict] = []
        self.op_id = 0
        self.by_label: dict[str, list[float]] = defaultdict(list)
        self.phase_s: dict[str, float] = {}
        self.split_s: dict[str, list[float]] = defaultdict(list)  # apply/serve of timed rounds
        self._phase_t = t_start
        self._traced_op = False
        from importlib import import_module

        self.release_all = import_module(f"{PKG}.functions.cache").release_all
        # roots whose new or rewritten files count as bytes written
        self.write_dirs = [os.environ["SPARK_GRAFT_SCRATCH"]]

    # bookkeeping ------------------------------------------------------
    def attempt(self, label: str, fn):
        """Run `fn`; a raise counts as a failed op with its error kept."""
        self.attempted += 1
        try:
            return fn(), True
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self.fail(label, f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=3)}")
            return None, False

    def fail(self, label: str, text: str) -> None:
        self.failed += 1
        self.errors.append(f"{label}: {text}"[:2000])

    def check(self, label: str, ok_fn) -> None:
        """An output check is an op: False or a raise is a failure."""
        ok, ran = self.attempt(f"check {label}", ok_fn)
        if ran and ok is not True:
            self.fail(f"check {label}", f"mismatch: {ok}")

    def phase(self, name: str) -> None:
        """Close the current phase (wall since the previous mark)."""
        now = time.perf_counter()
        self.phase_s[name] = now - self._phase_t
        self._phase_t = now

    def start_probe(self) -> None:
        if self.trace and self.probe is None:
            self.probe = SparkProbe(self.spark)

    def span(self, name: str, op_id: int | None = None):
        """A span inside the current traced op (or one with its own
        `op_id`); a no-op otherwise."""
        if self.tracer is None or (op_id is None and not self._traced_op):
            return nullcontext()
        return self.tracer.span(name, op_id)

    # one op -----------------------------------------------------------
    def timed_op(self, label: str, body, traced: bool) -> bool:
        """Run one op; inside the timed region record its latency in
        the traced or untraced sample and, when traced, its counters."""
        self.op_id += 1
        probe = self.probe if traced else None
        counters: dict = {"label": label, "op": self.op_id}
        if probe is not None:
            probe.engine_since_mark()  # drop anything before this op
            cat0 = probe.catalog()
            snap0 = tree_files(*self.write_dirs)
        self._traced_op = traced
        t0 = time.perf_counter()
        with self.span("op", self.op_id) if traced else nullcontext():
            _, ok = self.attempt(label, lambda: body(probe, counters))
        dt = time.perf_counter() - t0
        if probe is not None:
            counters["cached_bytes"] = probe.cached_bytes()
        with self.span("functions.cache.release", self.op_id) if traced else nullcontext():
            counters["released"] = self.release_all()
        self._traced_op = False
        if probe is not None:
            counters.update(probe.engine_since_mark())
            cat1 = probe.catalog()
            counters["files_discovered"] = cat1[0] - cat0[0]
            counters["file_cache_hits"] = cat1[1] - cat0[1]
            counters["bytes_written"] = bytes_written(
                snap0, tree_files(*self.write_dirs)
            )
            counters["wall_s"] = dt
            self.op_counters.append(counters)
        if ok and self.in_timed:
            (self.lat_traced if traced else self.lat).append(dt)
            if not traced:
                self.by_label[label].append(dt)
        return ok

    def build(self, probe, counters, name: str, fn):
        """Driver-side DataFrame build, with py4j sends counted when traced."""
        with self.span(name):
            if probe is None:
                return fn()
            probe.py4j_sends = 0
            probe.count_py4j(True)
            try:
                return fn()
            finally:
                probe.count_py4j(False)
                counters["py4j_calls"] = counters.get("py4j_calls", 0) + probe.py4j_sends

    def materialize(self, probe, df, span: str = "spark.exec") -> None:
        """Plan (traced only) then run to the noop sink."""
        if probe is not None:
            with self.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span(span):
            df.write.format("noop").mode("overwrite").save()

    # warm-up and the timed loop ----------------------------------------
    def warm_up(self, one_unit, n: int) -> list[float]:
        """`n` untimed passes or rounds; returns their walls."""
        walls: list[float] = []
        for _ in range(n):
            t0 = time.perf_counter()
            if one_unit(False) == 0:
                break  # the round failed or no batch is left
            walls.append(round(time.perf_counter() - t0, 3))
        return walls

    def closed_loop(self, one_pass, nominal_pass_s: float) -> None:
        """A fixed number of whole passes, `seconds / nominal_pass_s`
        rounded up, so both sides of a comparison do the same work.  A
        traced run alternates untraced and traced passes (at least one
        of each), so both samples see the same warm state and their
        difference is the tracing overhead."""
        passes = max(2 if self.trace else 1, math.ceil(self.seconds / nominal_pass_s))
        self.setup_s = time.perf_counter() - self.t_start
        self.in_timed = True
        gc0 = gc_seconds(self.spark)
        steal0 = host_jiffies()
        t0 = time.perf_counter()
        walls = []
        for k in range(passes):
            traced = self.trace and k % 2 == 1
            c1, t1 = tree_cpu_s(os.getpid()), time.perf_counter()
            n = one_pass(traced)
            if n == 0:
                break
            wall = time.perf_counter() - t1
            if not traced:
                self.passes.append((n, wall, tree_cpu_s(os.getpid()) - c1))
            walls.append(round(wall, 3))
            self.timed_ops += n
        self.timed_wall = time.perf_counter() - t0
        self.timed_gc_s = gc_seconds(self.spark) - gc0
        self.notes["timed_passes_s"] = walls
        self.notes["timed_gc_s"] = round(self.timed_gc_s, 3)
        steal1 = host_jiffies()
        total = steal1[1] - steal0[1]
        # a whole run moved by a noisy host shows here
        self.notes["timed_host_steal_frac"] = round((steal1[0] - steal0[0]) / total, 4) if total else 0.0
        self.in_timed = False

    # results ------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb("self") + _vm_hwm_mb(jvm)

    def end_to_end(self) -> dict:
        """Medians over the run: of op latencies, and of each timed
        pass's (or round's) throughput and CPU per op, so one pass that
        a burst of host load slowed does not move a metric."""
        lat, passes = self.lat, self.passes
        ops_min = statistics.median(60.0 * n / w for n, w, _ in passes) if passes else 0.0
        cpu_op = statistics.median(c / n for n, _, c in passes) if passes else 0.0
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
            "ops_per_min": (ops_min, "1/min"),
            "op_cpu_s": (cpu_op, "s"),
            "write_amp": (self.written / self.input_bytes if self.input_bytes else 0.0, "ratio"),
        }

    def per_layer(self, session_start_s: float) -> dict:
        ops = self.op_counters
        n = max(1, len(ops))
        mean = {k: sum(c.get(k, 0) for c in ops) / n for k in PER_OP_COUNTERS}
        selfs = self.tracer.self_times({c["op"] for c in ops}) if self.tracer else {}
        wall = sum(c["wall_s"] for c in ops)
        cores = self.spark.sparkContext.defaultParallelism
        apply_s = selfs.get("scoring.incremental.apply", 0.0)
        phase = self.notes.get("apply_phases", {})
        serve_exec = selfs.get("scoring.serve_exec", 0.0)
        base = statistics.median(self.lat) if self.lat else 0.0
        traced = statistics.median(self.lat_traced) if self.lat_traced else 0.0

        def share(x, of):
            return x / of if of else 0.0

        m = {
            "session.start_s": (session_start_s, "s"),
            "operators.build_s": (selfs.get("operators.build", 0.0) / n, "s"),
            "operators.py4j_calls": (mean["py4j_calls"], "count"),
            "plans.plan_s": (selfs.get("plans.plan", 0.0) / n, "s"),
            "plans.exchanges": (mean["exchanges"], "count"),
            "plans.python_nodes": (mean["python_nodes"], "count"),
            "spark.exec_s": ((selfs.get("spark.exec", 0.0) + serve_exec) / n, "s"),
            "spark.jobs": (mean["jobs"], "count"),
            "spark.stages": (mean["stages"], "count"),
            "spark.single_task_stages": (mean["single_task_stages"], "count"),
            "spark.tasks": (mean["tasks"], "count"),
            "spark.task_busy_s": (mean["task_busy_s"], "s"),
            "spark.core_idle_frac": (1.0 - share(mean["task_busy_s"] * n, wall * cores), "ratio"),
            "spark.shuffle_read_bytes": (mean["shuffle_read_bytes"], "bytes"),
            "spark.shuffle_write_bytes": (mean["shuffle_write_bytes"], "bytes"),
            "spark.spill_bytes": (mean["spill_bytes"], "bytes"),
            "functions.cache.released": (mean["released"], "count"),
            "functions.cache.cached_bytes": (mean["cached_bytes"], "bytes"),
            "sources.files_discovered": (mean["files_discovered"], "count"),
            "sources.file_cache_hits": (mean["file_cache_hits"], "count"),
            "sources.bytes_written": (mean["bytes_written"], "bytes"),
            "scoring.incremental.add_batch_s": (phase.get("addBatch", 0.0) / n, "s"),
            "scoring.incremental.planning_s": (phase.get("queryPlanning", 0.0) / n, "s"),
            "scoring.incremental.wal_commit_s": (phase.get("walCommit", 0.0) / n, "s"),
            "scoring.incremental.start_stop_s": (
                (apply_s - phase.get("triggerExecution", 0.0)) / n if apply_s else 0.0,
                "s",
            ),
            "scoring.serve_build_s": (selfs.get("scoring.serve_build", 0.0) / n, "s"),
            "scoring.serve_exec_s": (serve_exec / n, "s"),
            "scoring.audit_s": (self.audit_s, "s"),
            "jvm.heap_peak_mb": (heap_peak_mb(self.spark), "MB"),
            "jvm.gc_s": (self.timed_gc_s / max(1, self.timed_ops), "s"),
            "process.peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "trace.untraced_op_p50_s": (base, "s"),
            "trace.overhead_frac": (share(traced - base, base), "ratio"),
        }
        return m

    def artifact(self, session_start_s: float) -> dict:
        """Everything a traced run recorded, for the trace file."""
        per_layer = {k: v[0] for k, v in self.per_layer(session_start_s).items()}
        ops = self.op_counters
        return {
            "per_layer": per_layer,
            "self_time_s_per_layer": self.tracer.self_times({c["op"] for c in ops}),
            "tracing_overhead": {
                "base": "median untraced op latency, same run, interleaved passes",
                "untraced_op_p50_s": per_layer["trace.untraced_op_p50_s"],
                "traced_op_p50_s": statistics.median(self.lat_traced) if self.lat_traced else None,
                "overhead_frac": per_layer["trace.overhead_frac"],
                "n_untraced": len(self.lat),
                "n_traced": len(self.lat_traced),
            },
            "ops": ops,
            "spans": self.tracer.spans,
            "notes": self.notes,
        }

    def summary_lines(self) -> list[str]:
        """Human-readable lines printed before the result line."""
        lines = ["error: " + e.replace("\n", " | ") for e in self.errors]
        lines.append(
            f"error_rate: {self.failed}/{self.attempted} = {self.failed / max(1, self.attempted):.4f}"
        )
        lat = self.lat
        if lat:
            n = len(lat)
            line = f"timed ops: n={n} p50={statistics.median(lat):.4f}s"
            if n >= 20:  # highest percentile with at least ten samples beyond it
                q = math.floor(100 * (1 - 10 / n)) / 100
                line += f" p{round(q * 100)}={percentile(lat, q):.4f}s"
            lines.append(line + f" wall={self.timed_wall:.2f}s")
            lines.append("latencies_s: " + json.dumps([round(x, 4) for x in lat]))
        for name, vals in self.split_s.items():
            lines.append(f"{name}_p50_s: {statistics.median(vals):.4f} (n={len(vals)})")
        lines.append(f"audit_run_s: {self.audit_s:.4f}")
        lines.append("phases_s: " + json.dumps({k: round(v, 2) for k, v in self.phase_s.items()}))
        if len(self.by_label) > 1:
            lines.append(
                "median_s by op: "
                + json.dumps({k: round(statistics.median(v), 3) for k, v in sorted(self.by_label.items())})
            )
        for k, v in self.notes.items():
            if k != "apply_phases":
                lines.append(f"{k}: {json.dumps(v, default=str)}")
        return lines


# ---------------------------------------------------------------------
# audit run (both workloads)
# ---------------------------------------------------------------------
def audited_run(run: Run, evidence_dir: str, audit_dir: str, input_bytes: int) -> list[dict]:
    """One `score_portfolio_with_audit` over `evidence_dir`, timed until
    its scores are back in the caller; then the audit-trail check.
    Returns the score rows (empty if the run failed)."""
    from importlib import import_module

    runlog = import_module(f"{PKG}.scoring.runlog")
    before = tree_files(audit_dir)
    t0 = time.perf_counter()

    def go():
        with run.span("scoring.audit", -1):
            rid, final = runlog.score_portfolio_with_audit(run.spark, evidence_dir, audit_dir)
            return rid, [r.asDict() for r in final.collect()]

    out, ok = run.attempt("audit", go)
    run.audit_s = time.perf_counter() - t0
    run.written += bytes_written(before, tree_files(audit_dir))
    run.input_bytes += input_bytes
    run.release_all()
    if not ok:
        return []
    run_id, rows = out
    run.check("audit_trail", lambda: checks.audit_trail_ok(audit_dir, evidence_dir, run_id, len(rows)))
    return rows


# ---------------------------------------------------------------------
# mix workload
# ---------------------------------------------------------------------
def run_mix(run: Run, sf: float) -> None:
    from importlib import import_module

    registry = import_module(f"{PKG}.operators").REGISTRY
    data = fixture_dir(sf)
    specs = [registry[q] for q in MIX_QUERIES]
    run.notes["queries"] = list(MIX_QUERIES)

    def one_pass(traced: bool) -> int:
        order = run.rng.sample(specs, len(specs))
        for spec in order:

            def body(probe, counters, spec=spec):
                df = run.build(probe, counters, "operators.build", lambda: spec.fn(run.spark, data))
                run.materialize(probe, df)

            run.timed_op(spec.name, body, traced)
        return len(order)

    # Cold pass: every query once, in seeded order, collected.  Its rows
    # are checked against the DuckDB oracle after the timed region.
    results: dict[str, tuple] = {}
    first: dict[str, float] = {}
    for spec in run.rng.sample(specs, len(specs)):
        t0 = time.perf_counter()
        out, ok = run.attempt(spec.name, lambda spec=spec: _collect(run, spec, data))
        first[spec.name] = round(time.perf_counter() - t0, 3)
        if ok:
            results[spec.name] = out
    run.notes["first_run_s"] = dict(sorted(first.items()))
    run.notes["warmup_passes_s"] = run.warm_up(one_pass, MIX_WARMUP_PASSES)
    run.phase("setup")
    run.start_probe()
    run.closed_loop(one_pass, MIX_PASS_NOMINAL_S)
    run.phase("timed")

    tables = ("lineitem", "orders", "customer")
    audited_run(
        run,
        data,
        os.path.join(run.work, "audit"),
        sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in tables),
    )
    run.phase("audit")

    con = checks.oracle_connection(data)
    try:
        for name, (rows, cols) in sorted(results.items()):
            spec = registry[name]
            run.check(name, lambda spec=spec, rows=rows, cols=cols: _oracle_ok(con, spec, rows, cols))
    finally:
        con.close()
    run.phase("checks")


def _collect(run: Run, spec, data: str) -> tuple[list[tuple], list[str]]:
    df = spec.fn(run.spark, data)
    rows = [tuple(r) for r in df.collect()]
    run.release_all()
    return rows, df.columns


def _oracle_ok(con, spec, rows, cols):
    got = checks.digest(rows, cols)
    want = checks.oracle_digest(con, spec.oracle)
    return True if got == want else f"spark {got} vs oracle {want}"


# ---------------------------------------------------------------------
# ingest workload
# ---------------------------------------------------------------------
class _ProgressLog:
    """Streaming progress durations (ms) per apply, traced runs only."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events: list[dict] = []
        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self):
        self.spark.streams.removeListener(self.listener)


def split_lineitem(src: str, out_dir: str, n_files: int, seed: int) -> list[str]:
    """Seed-assigned micro-batch files of `src`, in seeded drop order."""
    tbl = pq.read_table(src)
    rng = np.random.default_rng(seed + 1)
    assign = rng.integers(0, n_files, tbl.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in rng.permutation(n_files):
        p = os.path.join(out_dir, f"lineitem_{k:03d}.parquet")
        write_one_row_group(tbl.filter(pa.array(assign == k)), p)
        paths.append(p)
    return paths


def run_ingest(run: Run, sf: float) -> None:
    from importlib import import_module

    inc = import_module(f"{PKG}.scoring.incremental")
    spark = run.spark
    data = fixture_dir(sf)
    staged = split_lineitem(
        os.path.join(data, "lineitem.parquet"), os.path.join(run.work, "staging"), INGEST_FILES, run.seed
    )
    inp = os.path.join(run.work, "input")
    os.makedirs(inp)
    for t in ("orders", "customer"):
        os.symlink(os.path.join(data, f"{t}.parquet"), os.path.join(inp, f"{t}.parquet"))
    gold, ckpt = os.path.join(run.work, "gold"), os.path.join(run.work, "ckpt")
    run.write_dirs += [gold, ckpt]
    dropped: list[str] = []
    progress = None
    phases: dict = defaultdict(float)

    def one_round(traced: bool) -> int:
        if len(dropped) == len(staged):
            run.notes["ran_out_of_batches"] = True
            return 0
        src = staged[len(dropped)]
        dst = os.path.join(inp, os.path.basename(src))
        before = tree_files(gold, ckpt)
        n_events = len(progress.events) if progress is not None else 0

        def body(probe, counters):
            os.replace(src, dst)
            dropped.append(dst)
            t0 = time.perf_counter()
            with run.span("scoring.incremental.apply"):
                inc.run_incremental_scoring(spark, inp, gold, ckpt)
            t1 = time.perf_counter()
            df = run.build(
                probe, counters, "scoring.serve_build", lambda: inc.score_from_partials(spark, inp, gold)
            )
            run.materialize(probe, df, "scoring.serve_exec")
            if run.in_timed and not traced:
                run.split_s["apply"].append(t1 - t0)
                run.split_s["serve"].append(time.perf_counter() - t1)

        ok = run.timed_op(f"round {len(dropped)}", body, traced)
        run.written += bytes_written(before, tree_files(gold, ckpt))
        if traced and progress is not None:
            run.probe.drain()
            for ev in progress.events[n_events:]:
                for k, v in ev.items():
                    phases[k] += v / 1000.0
        return 1 if ok else 0

    warm = run.warm_up(one_round, INGEST_WARMUP_ROUNDS)
    run.notes["warmup_rounds_s"] = warm
    run.phase("setup")
    run.start_probe()
    if run.trace:
        progress = _ProgressLog(spark)
    run.closed_loop(one_round, INGEST_ROUND_NOMINAL_S)
    if progress is not None:
        progress.close()
    run.phase("timed")
    run.notes["apply_phases"] = dict(phases)
    run.notes["rounds"] = {"warmup": len(warm), "timed": run.timed_ops, "files": len(staged)}

    evidence = _evidence_dir(run, data, "evidence", dropped)
    evidence_bytes = sum(os.path.getsize(p) for p in dropped) + sum(
        os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in ("orders", "customer")
    )
    audited = audited_run(run, evidence, os.path.join(run.work, "audit"), evidence_bytes)
    run.phase("audit")

    def parity():
        served = checks.composite_by_company(
            [r.asDict() for r in inc.score_from_partials(spark, inp, gold).collect()]
        )
        batch = checks.composite_by_company(audited)
        run.release_all()
        bad = checks.composite_mismatches(served, batch)
        run.notes["parity"] = {"companies": len(batch), "mismatches": bad}
        return True if bad == 0 and batch else f"{bad} of {len(batch)} companies differ"

    run.check("served_equals_batch", parity)
    run.phase("checks")


def _evidence_dir(run: Run, data: str, name: str, batches: list[str]) -> str:
    """The micro-batches ingested so far as one lineitem table beside
    orders and customer: the batch flagship's view of the same evidence."""
    d = os.path.join(run.work, name)
    os.makedirs(d)
    lineitem = pa.concat_tables([pq.read_table(p) for p in batches])
    write_one_row_group(lineitem, os.path.join(d, "lineitem.parquet"))
    for t in ("orders", "customer"):
        os.symlink(os.path.join(data, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
    return d
