"""Spans and per-layer counters, recorded from outside the package.

`Tracer` keeps spans in memory — name, start, end, parent span and op
id — and computes each layer's self time (span duration minus the
part covered by its child spans) when the run ends.  `SparkProbe`
reads the counters at each layer boundary from public JVM objects:

- py4j round trips: sends on the session's gateway client;
- jobs, stages, tasks, task run time, shuffle and spill bytes: the
  application status store (the same store the Spark UI reads);
- Exchange and Python-worker nodes: the final (AQE) physical plan of
  each SQL execution the op started;
- files discovered / file-index cache hits: HiveCatalogMetrics;
- cached RDD bytes: the status store's RDD list.

Nothing here runs unless a run is traced (`--trace 1`).
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

EXCHANGE_NODES = {"Exchange", "ShuffleExchange", "BroadcastExchange"}
PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
}


class Tracer:
    """In-memory span recorder; `span()` nests by call order."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id: int | None = None):
        return _Span(self, name, op_id)

    def self_times(self, op_ids=None) -> dict[str, float]:
        """Layer → total self time (s) over spans of `op_ids` (all if None)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if op_ids is None or s["op"] in op_ids:
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op_id) -> None:
        self.tracer, self.name, self.op_id = tracer, name, op_id

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        op = self.op_id if self.op_id is not None or parent is None else t.spans[parent]["op"]
        t.spans.append(
            {"name": self.name, "start": time.perf_counter(), "end": None, "parent": parent, "op": op}
        )
        self.idx = len(t.spans) - 1
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()
        return False


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak used bytes, in MB: an upper
    bound on the driver's peak heap demand."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mgmt.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if pool.getType().toString() == "Heap memory":
            total += int(pool.getPeakUsage().getUsed())
    return total / 2**20


def gc_seconds(spark) -> float:
    """Total collection time of the JVM's garbage collectors so far."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mgmt.getGarbageCollectorMXBeans()
    return sum(max(0, int(gcs.get(i).getCollectionTime())) for i in range(gcs.size())) / 1000.0


def plan_node_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, python nodes) in the final plan of one SQL
    execution's physical-plan description; AQE initial plans are
    skipped."""
    tree = plan_text.split("\n\n", 1)[0]
    exchanges = python = 0
    skip_indent = None
    for line in tree.splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if skip_indent is not None:
            if indent >= skip_indent:
                continue
            skip_indent = None
        body = line.strip(" +-:*")
        if body.startswith("== Initial Plan =="):
            skip_indent = indent
            continue
        name = body.split(" (", 1)[0].strip()
        exchanges += name in EXCHANGE_NODES
        python += name in PYTHON_NODES
    return exchanges, python


class SparkProbe:
    """Counter reads against one SparkSession's JVM."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.hive = sc._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        self.client = sc._gateway._gateway_client
        self.py4j_sends = 0
        self._orig_send = self.client.send_command
        self.next_job = self._last_job() + 1
        self.next_exec = self._last_exec() + 1

    # py4j ------------------------------------------------------------
    def count_py4j(self, on: bool) -> None:
        """Route gateway sends through a counter while `on`.  Only sends
        from the calling thread count, and memory commands do not: py4j
        sends those when Python's garbage collector frees a Java object
        proxy, and listener callbacks send from their own thread, at
        times no build controls."""
        if on:
            orig = self._orig_send
            owner = threading.get_ident()

            def counted(command, *a, **kw):
                if threading.get_ident() == owner and not command.startswith("m\n"):
                    self.py4j_sends += 1
                return orig(command, *a, **kw)

            self.client.send_command = counted
        else:
            self.client.send_command = self._orig_send

    # status store ----------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _last_job(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def _last_exec(self) -> int:
        n = int(self.sql_store.executionsCount())  # oldest first
        return int(self.sql_store.executionsList(n - 1, 1).apply(0).executionId()) if n else -1

    def catalog(self) -> tuple[int, int]:
        return (
            int(self.hive.METRIC_FILES_DISCOVERED().getCount()),
            int(self.hive.METRIC_FILE_CACHE_HITS().getCount()),
        )

    def cached_bytes(self) -> int:
        rdds = self.store.rddList(True)
        return sum(
            int(rdds.apply(i).memoryUsed()) + int(rdds.apply(i).diskUsed())
            for i in range(rdds.size())
        )

    def engine_since_mark(self) -> dict[str, float]:
        """Jobs/stages/tasks/bytes of every job and SQL execution
        started since the previous call."""
        self.drain()
        out = dict.fromkeys(
            (
                "jobs stages single_task_stages tasks task_busy_s "
                "shuffle_read_bytes shuffle_write_bytes spill_bytes "
                "exchanges python_nodes"
            ).split(),
            0,
        )
        seen: set[int] = set()
        last_job = self._last_job()
        for job in range(self.next_job, last_job + 1):
            try:
                jd = self.store.job(job)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            out["jobs"] += 1
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - never submitted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                n = int(st.numTasks())
                out["stages"] += 1
                out["single_task_stages"] += n == 1
                out["tasks"] += n
                out["task_busy_s"] += int(st.executorRunTime()) / 1000.0
                out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.diskBytesSpilled())
        self.next_job = max(self.next_job, last_job + 1)
        last_exec = self._last_exec()
        for eid in range(self.next_exec, last_exec + 1):
            ex = self.sql_store.execution(eid)
            if ex.isDefined():
                n_ex, n_py = plan_node_counts(ex.get().physicalPlanDescription())
                out["exchanges"] += n_ex
                out["python_nodes"] += n_py
        self.next_exec = max(self.next_exec, last_exec + 1)
        return out
