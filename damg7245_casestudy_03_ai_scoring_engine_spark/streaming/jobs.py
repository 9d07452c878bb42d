"""Structured Streaming extensions (SURVEY.md §2.10).

The reference has no streaming — collection is request-triggered
batch (reference app/routers/collection.py:373-388) and its 7-day
summaries are plain DATEADD predicates (signal_summaries.py:82-93).
These are the natural streaming re-expressions the survey calls out:

- signal/event ingestion as a file `readStream` appending to bronze,
- tumbling-window rollups (`window()` + watermark) replacing the
  DATEADD summary windows,
- stateful sessionization via `applyInPandasWithState` as the custom
  stateful-operator pattern.

Each transformation with a registry batch query is ONE function that
runs on batch and streaming input alike (`window_counts`,
`session_window_rollup`, `click_error_pairs`): it reads
`events.isStreaming`, and only the stream branch adds what a stream
needs — the event-time column, its watermark and, for the hourly
rollup, the `window()` key append mode requires.  Correctness is
checked two ways: the batch result against a DuckDB oracle
(registry), and the drained stream against the batch result of the
SAME function (pytest).  The stateful jobs pair up the same way where
they can: `running_balance_stream` carries state between calls of
the batch query's clamp-walk kernel; `sessionize_stream` (per-user
GroupState) and `sessionize_batch` (lag/cumsum frames) are two
algorithms pinned equal by test.  That batch/stream symmetry is
exactly how you'd validate the 100 TB deployment, where the stream
is the incremental path over the same bronze tables the batch job
full-scans.

Event time: `events.ts` is parquet TIMESTAMP(NANOS), read as long
nanoseconds (see sources/catalog.py).  `event_time_col` converts to a
proper timestamp for watermarks; all window boundaries are derived
with epoch arithmetic so results are session-timezone-proof.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.catalog import HOUR_NS, normalize_events_ts

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns since epoch (nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

SESSION_GAP_NS = 1_800 * 1_000_000_000  # 30-minute inactivity gap


def event_time_col(ts_ns=None):
    """long ns → TimestampType (microsecond precision) for
    watermarking; window math itself stays on the raw int64.

    The ns→µs division goes through decimal(20,0), not double: int64
    nanosecond epochs (~1.7e18) exceed double's 2^53 integer range, so
    a float divide can floor to the wrong microsecond at window
    boundaries.  Decimal division is exact and stays in codegen."""
    if ts_ns is None:
        ts_ns = F.col("ts")
    micros = F.floor(ts_ns.cast(T.DecimalType(20, 0)) / F.lit(1_000)).cast("long")
    return F.timestamp_micros(micros)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events table — the incremental
    ingestion path (new parquet files appended to the directory are
    picked up per micro-batch; maxFilesPerTrigger bounds batch size).

    A file stream needs its schema declared up front, but fixtures have
    shipped ts as both TIMESTAMP(NANOS)→long and TIMESTAMP_NTZ(µs); a
    cheap static footer read picks the actual dtype, then
    `normalize_events_ts` restores the int64-ns contract downstream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static_ts = (
        spark.read.option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
        .schema["ts"]
        .dataType
    )
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", static_ts)
            for f in EVENTS_SCHEMA
        ]
    )
    # file-stream sources take a DIRECTORY; select the table's files
    # with a glob filter so the same call works on a multi-file bronze
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


# --- tumbling-window rollup (batch/stream shared) ---------------------------


def _hourly_partials(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per (hour window, event_type): event count and UNROUNDED value
    sum — the mergeable form an incremental gold table stores (summing
    already-rounded partials would drift from a full recompute).
    Window start is epoch-floor arithmetic on the int64 nanos
    (timezone-proof and identical in DuckDB).

    On a stream the rows also carry event time under a watermark and
    group on the matching `window()`: append mode emits only groups
    keyed on an event-time window the watermark can close, and the
    watermark bounds state to the open windows (late rows beyond it
    are dropped — tested in tests/test_streaming.py) — state is
    O(open windows), not O(history)."""
    hour_start = (F.col("ts") - F.col("ts") % F.lit(HOUR_NS)).alias("window_start_ns")
    cols, keys = [hour_start, "event_type", "value"], ["window_start_ns", "event_type"]
    if events.isStreaming:
        events = events.withColumn("event_time", event_time_col()).withWatermark(
            "event_time", watermark
        )
        cols.insert(1, F.window("event_time", "1 hour").alias("w"))
        keys.insert(1, "w")
    return (
        events.select(*cols)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
        .select("window_start_ns", "event_type", "n_events", "value_sum")
    )


def _rounded_window_counts(partials: DataFrame) -> DataFrame:
    """The read-time rounding of hourly partials (4 dp value sum)."""
    return partials.select(
        "window_start_ns",
        "event_type",
        "n_events",
        F.round("value_sum", 4).alias("value_sum"),
    )


def window_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per (hour window, event_type): count + 4-dp value sum, on batch
    or streaming input.  `watermark` applies to a stream only."""
    return _rounded_window_counts(_hourly_partials(events, watermark))


# --- sessionization (batch lag/cumsum; streaming applyInPandasWithState) ----


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Per-user 30-min-gap sessions via lag + running sum of
    session-start flags (W5 analytic frames) — one shuffle on
    user_id, then windowed scans; oracle-able ANSI SQL."""
    # Truncate to µs precision: parquet TIMESTAMP(NANOS) carries sub-µs
    # digits that no TIMESTAMP engine (or the DuckDB oracle) retains.
    # Single-parse stages (r14, guide §5/§7.3) — identical windows and
    # arithmetic as the former Column chain (359 round trips/build).
    wu = "OVER (PARTITION BY user_id ORDER BY ts ASC"
    return (
        events.selectExpr("user_id", "ts - ts % 1000 AS ts", "value")
        .selectExpr(
            "user_id",
            "ts",
            "value",
            f"CASE WHEN lag(ts) {wu}) IS NULL "
            f"OR ts - lag(ts) {wu}) > {SESSION_GAP_NS} "
            "THEN 1 ELSE 0 END AS is_new",
        )
        .selectExpr(
            "user_id",
            "ts",
            "value",
            f"sum(is_new) {wu} ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW) AS session_id",
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.expr("count(1)").alias("n_events"),
            F.expr("min(ts)").alias("session_start_ns"),
            F.expr("max(ts)").alias("session_end_ns"),
            F.expr("round(sum(value), 4)").alias("value_sum"),
        )
    )


_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start_ns", T.LongType()),
        T.StructField("session_end_ns", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)

# GroupState payload: last event ts and the running session counter,
# carried across micro-batches so sessions split consistently even
# when a user's events arrive over many batches.
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.LongType()),
        T.StructField("session_id", T.LongType()),
    ]
)


def _session_kernel(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        last_ts, session_id = state.get
    else:
        last_ts, session_id = None, 0

    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
    out: dict[str, list] = {c.name: [] for c in _SESSION_OUT_SCHEMA}
    cur: list[tuple[int, float]] = []

    def emit():
        if not cur:
            return
        ts_vals = [t for t, _ in cur]
        out["user_id"].append(user_id)
        out["session_id"].append(session_id)
        out["n_events"].append(len(cur))
        out["session_start_ns"].append(min(ts_vals))
        out["session_end_ns"].append(max(ts_vals))
        out["value_sum"].append(round(sum(v for _, v in cur), 4))

    for ts, value in zip(rows["ts"], rows["value"]):
        ts = int(ts) // 1_000 * 1_000  # µs truncation, matching the batch twin
        if last_ts is None or ts - last_ts > SESSION_GAP_NS:
            emit()
            cur = []
            session_id += 1
        cur.append((ts, float(value)))
        last_ts = ts
    emit()

    state.update((last_ts, session_id))
    yield pd.DataFrame(out)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user sessionization with
    applyInPandasWithState — the Arrow-batched Python state API
    (SURVEY §2.10's named extension point).  State is (last_ts,
    session counter) per user; output mode `update` re-emits a
    session's rollup whenever a micro-batch extends it."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_kernel,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_rollup(events: DataFrame) -> DataFrame:
    """Native gap-merging sessionization: `F.session_window` with a
    30-min gap — the Spark-idiomatic form of `sessionize_batch` (same
    semantics, verified in tests/test_streaming.py: an event at
    EXACTLY start+gap still merges, i.e. a new session opens only when
    the gap is strictly exceeded; window.end = last event + gap).

    Unlike the lag/cumsum form this shape runs unchanged on a stream:
    the stream branch only adds a 2-hour event-time watermark, under
    which Spark merges a user's open session state across micro-batches
    and finalizes a session once the watermark passes its end —
    bounded state, append-mode emission (each session exactly once
    when it can no longer grow).  At 100 TB the batch backfill and the
    live stream share this exact plan, and the shuffle is one hash
    partitioning on user_id with the gap-merge done inside the
    aggregation operator (no analytic-window second pass)."""
    ev = events.withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1_000))
    with_time = ev.withColumn("event_time", event_time_col())
    if events.isStreaming:
        with_time = with_time.withWatermark("event_time", "2 hours")
    return (
        with_time.groupBy(
            "user_id", F.session_window("event_time", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            "user_id",
            (F.unix_micros("w.start") * F.lit(1_000)).alias("session_start_ns"),
            (F.unix_micros("w.end") * F.lit(1_000)).alias("session_end_ns"),
            "n_events",
            "value_sum",
        )
    )


# --- streaming dedup (S18's incremental twin) -------------------------------


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming content-hash dedup — the incremental form of the
    reference's dedup-before-insert probe (S18, signal_store.py:21-28):
    `dropDuplicatesWithinWatermark` keeps one row per event_id, with
    dedup state bounded by the watermark instead of growing forever
    (the property that makes exactly-once ingestion viable at 100 TB;
    duplicates separated by more than the watermark are the batch
    anti-join's job during compaction)."""
    return (
        events.withColumn("event_time", event_time_col())
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


# --- unbounded-keyspace stateful fold ---------------------------------------


_LIFETIME_OUT_SCHEMA = "user_id long, n_events bigint, value_total double"


def user_lifetime_stats_stream(events: DataFrame) -> DataFrame:
    """Per-user lifetime (count, value-total) accumulator — the
    unbounded-keyspace stateful fold.  Emits the updated lifetime row
    for every user touched by a micro-batch (update mode); the final
    emission per user equals the batch groupBy aggregate (pinned in
    tests/test_streaming.py with a multi-micro-batch drain).  State is
    one (n, total) pair per user in `applyInPandasWithState`'s
    GroupState, which the state-store provider (RocksDB in the test)
    keeps off the executor heap."""

    def accumulate(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_total": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            accumulate,
            outputStructType=_LIFETIME_OUT_SCHEMA,
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- stream-stream interval join -------------------------------------------

TEN_MIN_NS = 600 * 1_000_000_000


def click_error_pairs(events: DataFrame, how: str = "inner") -> DataFrame:
    """Every (click, error) pair for the same user where the error
    lands within 10 minutes AFTER the click — the funnel/attribution
    interval join — on batch or streaming input.  `how="left"` keeps
    every click, NULL-padded when no error followed: the 'no incident'
    rows an attribution pipeline feeds its clean branch.

    Batch: ONE equi-join on user_id with the nanosecond range as a
    join filter (no time-bucket explosion needed at this selectivity),
    built as single-parse stages (r14, guide §5/§7.3).

    Stream: both sides carry 30-minute event-time watermarks and the
    condition bounds error_time to (click_time, click_time + 10 min],
    so Spark can evict click state once the error-side watermark
    passes click_time + 10 min — bounded state, append-mode emission of
    each pair exactly once.  The outer form shows what the batch join
    hides: an unmatched click CANNOT be emitted when it arrives (a
    matching error may still come), so its NULL row is emitted only
    once the watermark passes the join's upper time bound — which is
    why an outer stream-stream join needs BOTH a watermark and a range
    condition; without them 'no match' never becomes final and state
    is never evicted."""
    ev = events.selectExpr(
        "user_id", "event_id", "ts - ts % 1000 AS ts", "event_type"
    )
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "user_id", "event_id AS click_id", "ts AS click_ts_ns"
    )
    errors = ev.filter("event_type = 'error'").selectExpr(
        "user_id AS e_user_id", "event_id AS error_id", "ts AS error_ts_ns"
    )
    if events.isStreaming:
        clicks = clicks.withColumn(
            "click_time", event_time_col(F.col("click_ts_ns"))
        ).withWatermark("click_time", "30 minutes")
        errors = errors.withColumn(
            "error_time", event_time_col(F.col("error_ts_ns"))
        ).withWatermark("error_time", "30 minutes")
        cond = (
            "user_id = e_user_id AND error_time > click_time "
            "AND error_time <= click_time + INTERVAL 10 MINUTES"
        )
    else:
        cond = (
            "user_id = e_user_id AND error_ts_ns > click_ts_ns "
            f"AND error_ts_ns <= click_ts_ns + {TEN_MIN_NS}"
        )
    return clicks.join(errors, F.expr(cond), how).select(
        "user_id", "click_id", "error_id", "click_ts_ns", "error_ts_ns"
    )


# --- incremental materialized view (foreachBatch upsert) --------------------


def _merge_parquet_gold(gold_dir: str, keys: list[str], sums: list[str]):
    """The shared replay-idempotent, crash-atomic gold-merge protocol
    — ONE implementation behind every foreachBatch gold table
    (`merge_gold_window_counts`, `merge_inverted_file`,
    `merge_cell_moments`, and the scoring partials of
    `scoring/incremental.py:merge_partials`), so a protocol fix can
    never apply to one table and not another.

    Declared schema: the existing generation is read with the
    partial's own schema, so a merge starts no parquet
    schema-inference job.  Every batch's partial must therefore carry
    the same schema, and each sum column must already be of a type
    `sum` keeps (long, double): an `int` sum column would widen to
    `long` in the first merged generation and no longer match the
    declared read.

    Sorted generations: each generation is written
    `sortWithinPartitions(*keys)`, so rows sharing a key prefix sit
    together in the files.  A table that mixes grains (NULL in
    different key columns) should lead its keys with the column that
    tells the grains apart; unsorted, the interleaved NULL definition
    levels encode worse and the files grow.

    Replay idempotence: the max applied batch id rides INSIDE the
    committed directory as `_last_batch_id` (underscore-prefixed ⇒
    ignored by parquet readers), so it commits atomically with the
    data; a re-delivered batch id ≤ the marker is skipped instead of
    double-counted.

    Crash atomicity (r11 self-review fix — the original
    rmtree-then-replace had a window where a crash between the two
    calls lost the whole accumulated table): commit is
    detach-promote-reap, all three steps atomic renames or
    recoverable —
      1. detach:  rename(gold, gold._old)     [atomic]
      2. promote: rename(tmp, gold)           [atomic]
      3. reap:    rmtree(gold._old)
    and every upsert starts with RECOVERY: if gold is missing but
    gold._old exists (crash between detach and promote), the old
    generation is restored — its marker predates the lost batch, so
    the replayed batch re-merges instead of re-initializing from one
    batch's partial.  A crash after promote leaves a stale ._old that
    the next upsert reaps.  At 100 TB this whole dance is `MERGE INTO
    gold USING partial` on Delta/Iceberg, whose log gives the same
    atomicity; the directory-generation scheme is the plain-parquet
    equivalent."""
    import os
    import shutil

    old_dir = gold_dir + "._old"

    def _last_applied() -> int:
        marker = os.path.join(gold_dir, "_last_batch_id")
        if os.path.isfile(marker):
            with open(marker) as fh:
                return int(fh.read().strip())
        return -1

    def merge(partial: DataFrame, batch_id: int) -> None:
        spark = partial.sparkSession
        if not os.path.isdir(gold_dir) and os.path.isdir(old_dir):
            os.replace(old_dir, gold_dir)  # recover: crash mid-commit
        if os.path.isdir(gold_dir):
            if batch_id <= _last_applied():
                return  # replayed batch already merged
            gold = spark.read.schema(partial.schema).parquet(gold_dir)
            merged = (
                gold.unionByName(partial)
                .groupBy(*keys)
                .agg(*[F.sum(c).alias(c) for c in sums])
            )
        else:
            merged = partial
        tmp = gold_dir + f"._tmp_{batch_id}"
        merged.sortWithinPartitions(*keys).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch_id"), "w") as fh:
            fh.write(str(batch_id))
        if os.path.isdir(old_dir):
            shutil.rmtree(old_dir)  # reap a stale generation
        if os.path.isdir(gold_dir):
            os.replace(gold_dir, old_dir)  # detach
        os.replace(tmp, gold_dir)  # promote
        if os.path.isdir(old_dir):
            shutil.rmtree(old_dir)  # reap

    return merge


def merge_gold_window_counts(gold_dir: str):
    """foreachBatch body: merge one micro-batch's window partials into
    a parquet gold table keyed on (window_start_ns, event_type).

    This is the incremental-materialized-view pattern: the stream
    maintains the same rollup the batch job full-scans, so dashboards
    read the gold table with no recompute.  At 100 TB the union+groupBy
    re-write becomes `MERGE INTO gold USING partial ON keys WHEN
    MATCHED UPDATE SET n = n + src.n ...` on Delta/Iceberg — here the
    whole (tiny) rollup is re-keyed per batch through the shared
    crash-atomic, replay-idempotent protocol (`_merge_parquet_gold`)."""
    merge = _merge_parquet_gold(
        gold_dir, ["window_start_ns", "event_type"], ["n_events", "value_sum"]
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merge(_hourly_partials(batch_df), batch_id)

    return upsert


def read_gold_window_counts(spark: SparkSession, gold_dir: str) -> DataFrame:
    """Serving view over the gold table — the same read-time rounding
    as `window_counts`, so incremental == full recompute."""
    return _rounded_window_counts(spark.read.parquet(gold_dir))


# --- stream-static enrichment join ------------------------------------------

EVENT_TYPE_WEIGHTS = (
    ("click", 1.0),
    ("view", 0.2),
    ("purchase", 5.0),
    ("error", -1.0),
)


def enrich_with_type_weights(events: DataFrame) -> DataFrame:
    """Stream-static enrichment: the (tiny, broadcast) event-type
    weight dim joins each event as it flows — the streaming analog of
    the reference's config-table lookups (J7).  Works identically on
    batch and streaming inputs: a static DataFrame on the right of a
    streaming join needs no watermark and re-snapshots per
    micro-batch, which is exactly how config changes roll out to a
    live pipeline."""
    spark = events.sparkSession
    weights = spark.createDataFrame(
        list(EVENT_TYPE_WEIGHTS), "event_type string, weight double"
    )
    return (
        events.join(F.broadcast(weights), "event_type", "left")
        .withColumn("weighted_value", F.col("value") * F.coalesce("weight", F.lit(0.0)))
    )


# --- two-sided clamped running balance (stateful stream) ---------------------

def running_balance_stream(events: DataFrame) -> DataFrame:
    """Streaming form of the two-sided clamped balance walk
    (`bounded_running_balance_stateful`): the same delta projection
    and the same clamp-walk kernel, with the per-user balance carried
    across micro-batches as one int in `applyInPandasWithState`; each
    batch's events are walked in (ts, event_id) order from the carried
    balance and every event's post-clamp balance is emitted (update
    mode).  With chronological per-user batch arrival — the property
    event-time-partitioned ingestion provides — the concatenated
    emissions equal the batch walk exactly (pinned by the drain test),
    because the clamp recursion's state is fully summarized by the
    last balance.

    This is the operator that JUSTIFIES the stateful API here: the
    floor-only walk has a prefix closed form (`capped_running_balance`
    runs as a plain window), the two-sided clamp provably does not —
    so its incremental form NEEDS carried state.
    """
    from ..operators.streaming_queries import (
        _BALANCE_OUT_SCHEMA,
        _balance_deltas,
        _clamp_walk,
    )

    def walk(key, pdfs, state):
        frames = list(pdfs)
        out, bal = _clamp_walk(
            pd.concat(frames) if len(frames) > 1 else frames[0],
            state.get[0] if state.exists else 0,
        )
        state.update((bal,))
        yield out

    return (
        _balance_deltas(events)
        .groupBy("user_id")
        .applyInPandasWithState(
            walk,
            outputStructType=_BALANCE_OUT_SCHEMA,
            stateStructType="bal bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- vector-index streaming ingest (IVF inverted file as a gold table) -------

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def read_embedding_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source readStream over arriving embedding vectors — the
    streaming form of `ivf_file_delta`'s arriving batch.  Same
    file-stream rules as `read_events_stream`: directory source,
    glob-filtered, one file per micro-batch so a multi-file drop
    exercises true incremental accumulation."""
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )


def merge_inverted_file(index_dir: str, sf_dir: str):
    """foreachBatch body: file one micro-batch of arriving vectors by
    the FROZEN standing-corpus quantizer (`_ivf_file_by_frozen` — the
    exact `ivf_file_delta` arithmetic, FAISS add()) and merge the
    per-cell append counts into a parquet inverted-file stats table
    keyed on cell.

    This is `merge_gold_window_counts`' incremental-materialized-view
    protocol applied to the vector index: per-batch cost is
    O(batch × nlist × dim) (the quantizer is the session-persisted
    codebook), the gold table is nlist rows, and replays are
    idempotent via the in-directory `_last_batch_id` marker that
    commits atomically with the data.  At 100 TB the stats merge
    becomes `MERGE INTO inverted_file ... UPDATE SET n_added =
    n_added + src.n` on Delta/Iceberg, and the membership itself lands
    in cell-partitioned files (`ann_ivf_partition_pruned`'s layout).

    The maintenance law (tests/test_streaming.py): the accumulated
    gold equals `ivf_file_delta`'s one-shot per-cell `n_added`
    accounting — streaming == batch, the same invariant every
    incremental tier pins."""
    from ..operators.similarity import _ivf_file_by_frozen

    merge = _merge_parquet_gold(index_dir, ["cell"], ["n_added"])

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merge(
            _ivf_file_by_frozen(spark, sf_dir, batch_df)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_added")),
            batch_id,
        )

    return upsert


def merge_cell_moments(index_dir: str, sf_dir: str):
    """foreachBatch body: file one micro-batch by the frozen quantizer
    (the `merge_inverted_file` discipline) and merge its per-(cell,
    dim) MOMENT SUMS — Σx and member count — into a parquet gold table.

    This is the piece that closes the streaming drift edge (r11
    verdict #5): `merge_inverted_file` accumulates per-cell COUNTS,
    which answer the occupancy question but not the staleness one —
    the drift signal needs the current member MEANS, and a mean is not
    mergeable across micro-batches while its (Σx, n) moments are.
    Per-batch cost stays O(batch × nlist × dim) for the filing plus
    one map-side-combinable (cell, i) aggregate over the batch; the
    gold table is nlist×dim rows.  At 100 TB: `MERGE INTO moments ...
    UPDATE SET sum_x = sum_x + src.sum_x, n = n + src.n`."""
    from ..operators.similarity import _ivf_file_by_frozen

    merge = _merge_parquet_gold(index_dir, ["cell", "i"], ["sum_x", "n"])

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        v_flat = batch_df.select(
            "vec_id", F.posexplode("embedding").alias("i", "x")
        ).withColumn("x", F.col("x").cast("double"))
        merge(
            _ivf_file_by_frozen(spark, sf_dir, batch_df)
            .join(v_flat, "vec_id")
            .groupBy("cell", "i")
            .agg(
                F.sum("x").alias("sum_x"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            ),
            batch_id,
        )

    return upsert


def streamed_drift_stats(spark: SparkSession, index_dir: str, sf_dir: str) -> DataFrame:
    """Serving view: `ivf_codebook_drift_stats` computed from
    CONTINUOUSLY-INGESTED state — the streamed moments gold merged
    with the standing ingest artifact (`_ivf_standing_moments`), so
    the retrain trigger works off live appends without rescanning
    either the standing corpus or the replayed stream.  Post-append
    member mean per (cell, dim) = (Σx_standing + Σx_streamed) /
    (n_standing + n_streamed); the cosine against the frozen codebook
    and the tau flag are the signal's own arithmetic (`_cosine_agg`,
    `_IVF_DRIFT_TAU`), so the drain law — streamed == batch after the
    same file drop, cell-exact — is pinned in tests/test_streaming.py
    (the `user_lifetime_stats` drain-law discipline)."""
    from ..operators.similarity import (
        _IVF_DRIFT_TAU,
        _cosine_agg,
        _ivf_frozen_quantizer,
        _ivf_standing_moments,
    )

    streamed = spark.read.parquet(index_dir).select(
        "cell", "i", "sum_x", "n", F.lit(True).alias("is_delta")
    )
    standing = _ivf_standing_moments(spark, sf_dir).select(
        "cell", "i", "sum_x", "n", F.lit(False).alias("is_delta")
    )
    both = standing.unionByName(streamed)
    means = both.groupBy("cell", "i").agg(
        (F.sum("sum_x") / F.sum("n")).alias("mx")
    )
    cent = _ivf_frozen_quantizer(spark, sf_dir).select(
        F.col("label").alias("cell"), "i", "cx"
    )
    drift = (
        means.join(F.broadcast(cent), ["cell", "i"])
        .groupBy("cell")
        .agg(_cosine_agg("mx", "cx").alias("codebook_cosine"))
    )
    # per-cell counts ride dim 0 of the same moments (every member
    # contributes one value per dim, so n is constant across i)
    memb = (
        both.filter(F.col("i") == 0)
        .groupBy("cell")
        .agg(
            F.sum("n").cast("bigint").alias("n_members"),
            F.sum(F.when(F.col("is_delta"), F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_added"),
        )
    )
    return memb.join(drift, "cell").select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_members",
        "n_added",
        "codebook_cosine",
        (F.col("codebook_cosine") < F.lit(_IVF_DRIFT_TAU)).alias("retrain_flagged"),
    )


def streamed_maintenance_decision(
    spark: SparkSession, index_dir: str, sf_dir: str
) -> DataFrame:
    """Serving view: `ivf_maintenance_decision` computed from
    CONTINUOUSLY-INGESTED state — the whole signal→decision loop off
    the streamed moments gold, no batch rescan anywhere:

    - staleness: `streamed_drift_stats` (streamed moments + the
      standing artifact);
    - post-append occupancy: the SAME frame's member counts, with
      `ivf_file_delta`'s integer-exact 2× alarm replayed on them;
    - standing-occupancy baseline: `ivf_cell_balance_stats` (an
      index-generation artifact, not stream state);
    - the ladder itself: `_maintenance_decision_from_frames` — the
      IDENTICAL code the registered batch decision runs, so the two
      can only differ through their inputs, and the drain law
      (tests/test_streaming.py) pins those cell-exact.

    At 100 TB this is the query a maintenance scheduler polls between
    micro-batches: O(cells) reads over two gold tables and one
    broadcast artifact."""
    from ..operators.registry import REGISTRY
    from ..operators.similarity import (
        _IVF_DRIFT_TAU,
        _maintenance_decision_from_frames,
    )

    sds = streamed_drift_stats(spark, index_dir, sf_dir)
    ds = sds.select("cell", "codebook_cosine", "retrain_flagged")
    wall = Window.partitionBy()
    fd = sds.select(
        "cell", F.col("n_members").cast("bigint").alias("n_after")
    ).select(
        "cell",
        "n_after",
        (
            (F.col("n_after") * F.count(F.lit(1)).over(wall))
            > (F.lit(2) * F.sum("n_after").over(wall))
        ).alias("oversized_after"),
    )
    bs = REGISTRY["ivf_cell_balance_stats"].fn(spark, sf_dir).select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("oversized").alias("occ_oversized"),
    )
    return _maintenance_decision_from_frames(
        ds, fd, bs, _IVF_DRIFT_TAU, _IVF_DRIFT_TAU
    )


def append_member_filing(filing_dir: str, sf_dir: str):
    """foreachBatch body: file one micro-batch by the FROZEN quantizer
    and APPEND the vec-grain membership (vec_id, cell, embedding) to a
    parquet inverted-file gold — the third streamed index surface,
    closing the ACTION edge (r12 verdict #3): counts
    (`merge_inverted_file`) answer occupancy, moments
    (`merge_cell_moments`) answer staleness, and this membership gold
    is what the maintenance EXECUTOR reads — a retrain/split touches
    actual members, so the streamed executor needs the filed vectors,
    not just their statistics.

    Idempotency: each micro-batch lands in its own `batch=<id>`
    partition directory with mode=overwrite, so a replay after a
    crash rewrites the same partition bit-identically (append-only
    golds don't need the `_last_batch_id` two-phase marker the
    merging golds use).  At 100 TB this IS the inverted list store:
    cell-keyed vector files, one append per micro-batch, compacted by
    the refile/retrain actions."""
    from ..operators.similarity import _ivf_file_by_frozen

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        (
            _ivf_file_by_frozen(spark, sf_dir, batch_df)
            .join(batch_df.select("vec_id", "embedding"), "vec_id")
            .write.mode("overwrite")
            .parquet(f"{filing_dir}/batch={batch_id}")
        )

    return upsert


def _streamed_member_state(
    spark: SparkSession, filing_dir: str, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cells, emb) — the POST-APPEND inverted file assembled from
    streamed state: standing membership from the persisted ingest
    artifact (`_ivf_standing_filing`), appended membership from the
    vec-grain filing gold; embeddings for the appended members come
    from the gold itself (the inverted list stores its vectors), for
    standing members from the standing corpus."""
    from ..operators.similarity import _ivf_delta_flag, _ivf_standing_filing
    from ..sources.catalog import load

    streamed = spark.read.parquet(filing_dir).select(
        "vec_id", "cell", "embedding"
    )
    cells = (
        _ivf_standing_filing(spark, sf_dir)
        .withColumn("is_delta", F.lit(False))
        .unionByName(
            streamed.select("vec_id", "cell").withColumn(
                "is_delta", F.lit(True)
            )
        )
    )
    standing_emb = (
        load(spark, sf_dir, "embeddings")
        .filter(~_ivf_delta_flag())
        .select("vec_id", "embedding")
    )
    emb = standing_emb.unionByName(streamed.select("vec_id", "embedding"))
    return cells, emb


def streamed_maintenance_execute(
    spark: SparkSession, filing_dir: str, moments_dir: str, sf_dir: str
) -> DataFrame:
    """`ivf_maintenance_execute` off CONTINUOUSLY-INGESTED state — the
    action edge of the streamed loop (r12 verdict #3; the decision
    edge is `streamed_maintenance_decision`): one maintenance cycle
    applied to the streamed inverted file, no batch rescan of the
    replayed stream anywhere.

    - the DECISION comes from the streamed moments gold (the shared
      ladder — `streamed_maintenance_decision`);
    - RETRAIN refits flagged cells to their member means read from the
      MERGEABLE moments (Σx/n over standing + streamed sums — the
      `streamed_drift_stats` arithmetic, ulp-absorbed at the 6dp
      rounding like the drain law documents) and refiles flagged-cell
      members among the refit centroids (`ivf_codebook_retrain`'s
      exact argmax discipline over the membership gold);
    - REFILE delegates to the SHARED `_refile_oversized_impl` with the
      streamed decision's refile cells as the admission — the same
      parameterized code path the batch executor runs;
    - WAIT rows pass through the streamed decision's counts.

    The drain law (tests/test_streaming.py): after a 3-micro-batch
    drain through BOTH golds, this equals the one-shot batch
    `ivf_maintenance_execute` cell-exactly on every column."""
    from ..operators.similarity import (
        _cosine_agg,
        _ivf_frozen_quantizer,
        _ivf_standing_moments,
        _refile_oversized_impl,
    )

    dec = streamed_maintenance_decision(spark, moments_dir, sf_dir).select(
        "cell", "action", "n_after"
    )
    cells, emb = _streamed_member_state(spark, filing_dir, sf_dir)
    v_flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))

    # retrain branch: refit = member means from the mergeable moments
    flagged = dec.filter(F.col("action") == "retrain").select("cell")
    moments = (
        _ivf_standing_moments(spark, sf_dir)
        .select("cell", "i", "sum_x", "n")
        .unionByName(
            spark.read.parquet(moments_dir).select("cell", "i", "sum_x", "n")
        )
    )
    new_cent = (
        moments.join(F.broadcast(flagged), "cell")
        .groupBy("cell", "i")
        .agg((F.sum("sum_x") / F.sum("n")).alias("mx"))
        .select(F.col("cell").alias("cand_cell"), "i", F.col("mx").alias("cx"))
    )
    mem_flat = (
        cells.select("vec_id", "cell")
        .join(F.broadcast(flagged), "cell")
        .join(v_flat, "vec_id")
    )
    resc = (
        mem_flat.select("vec_id", "i", "x")
        .join(F.broadcast(new_cent), "i")
        .groupBy("vec_id", "cand_cell")
        .agg(_cosine_agg("x", "cx").alias("cosine"))
    )
    wbest = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("cand_cell")
    )
    rt = (
        resc.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .groupBy(F.col("cand_cell").alias("cell"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_retrained"))
        .join(flagged, "cell", "right")
        .select(
            (F.col("cell") * 10).cast("bigint").alias("new_cell"),
            F.col("cell").cast("bigint").alias("parent_cell"),
            F.lit("retrain").alias("action"),
            F.coalesce("n_retrained", F.lit(0)).cast("bigint").alias("n_vecs"),
        )
    )

    # refile branch: the shared parameterized split
    admission = dec.filter(F.col("action") == "refile").select("cell")
    cent_own = _ivf_frozen_quantizer(spark, sf_dir).select(
        F.col("label").alias("cell"), "i", "cx"
    )
    rf = (
        _refile_oversized_impl(
            emb, cells.select("vec_id", "cell"), cent_own, "ivf_sexec",
            admission=admission,
        )
        .filter(F.col("was_split"))
        .select(
            "new_cell",
            "parent_cell",
            F.lit("refile").alias("action"),
            "n_vecs",
        )
    )

    wt = dec.filter(F.col("action") == "wait").select(
        (F.col("cell") * 10).cast("bigint").alias("new_cell"),
        F.col("cell").cast("bigint").alias("parent_cell"),
        F.lit("wait").alias("action"),
        F.col("n_after").cast("bigint").alias("n_vecs"),
    )
    return rt.unionByName(rf).unionByName(wt)
