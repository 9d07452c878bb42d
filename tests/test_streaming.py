"""Structured Streaming extensions (SURVEY.md §2.10): stream ==
batch equivalence for the shared transformations, multi-batch state
carry for the applyInPandasWithState sessionizer, and watermark
late-data drop semantics.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
    EVENTS_SCHEMA,
    click_error_pairs,
    event_time_col,
    session_window_rollup,
    sessionize_batch,
    sessionize_stream,
    window_counts,
)

from conftest import SF_SMOKE

_HOUR_NS = 3_600 * 1_000_000_000


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run_stream(sdf, sink_table, output_mode, checkpoint):
    q = (
        sdf.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


@pytest.mark.parametrize(
    "job, output_mode",
    [
        pytest.param(window_counts, "complete", id="window_counts-complete"),
        # complete mode so end-of-corpus sessions the watermark never
        # finalizes are still emitted for comparison
        pytest.param(
            session_window_rollup, "complete", id="session_window_rollup-complete"
        ),
        # append: the watermarked interval join emits each pair once
        pytest.param(click_error_pairs, "append", id="click_error_pairs-append"),
    ],
)
def test_stream_drain_equals_batch(spark, tmp_path, job, output_mode):
    """One function per job: drained over the events stream it must
    emit exactly what it returns on the batch table."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import read_events_stream

    events = read_events_stream(spark, SF_SMOKE)
    sink = f"drain_{job.__name__}"
    _run_stream(job(events), sink, output_mode, str(tmp_path / f"ckpt_{sink}"))
    got = _rows(spark.table(sink))
    want = _rows(job(load(spark, SF_SMOKE, "events")))
    assert got == want
    assert len(got) > 0


def test_sessionize_stream_equals_batch_single_batch(spark, tmp_path):
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import read_events_stream

    events = read_events_stream(spark, SF_SMOKE)
    _run_stream(
        sessionize_stream(events),
        "sess_stream",
        "update",
        str(tmp_path / "ckpt_sess"),
    )
    got = _rows(spark.table("sess_stream"))
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    want = _rows(sessionize_batch(load(spark, SF_SMOKE, "events")))
    assert got == want


def test_sessionize_state_carries_across_batches(spark, tmp_path):
    """Split one user's events across two availableNow runs sharing a
    checkpoint: the second run must CONTINUE the first run's session
    (same session_id, extended rollup) via the persisted GroupState —
    not restart at session 1."""
    data_dir = tmp_path / "events_data"
    ckpt = str(tmp_path / "ckpt_carry")
    os.makedirs(data_dir)

    base = 1_700_000_000 * 1_000_000_000
    gap = 60 * 1_000_000_000  # 1 min apart — same session
    batch1 = [(i, base + i * gap, 7, "click", 1.0, "{}") for i in range(3)]
    # batch 2: two more events 1 min after batch1's last → same session,
    # then one event 2 h later → a NEW session (id 2)
    batch2 = [(10, base + 3 * gap, 7, "click", 1.0, "{}"),
              (11, base + 4 * gap, 7, "click", 1.0, "{}"),
              (12, base + 4 * gap + 2 * _HOUR_NS, 7, "click", 1.0, "{}")]

    def write_file(rows, name):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
        time.sleep(0.05)

    stream = lambda: spark.readStream.schema(EVENTS_SCHEMA).parquet(str(data_dir))

    def run_to(out_dir):
        # memory sink can't recover from a checkpoint; foreachBatch +
        # batch parquet append is the recoverable update-mode sink
        q = (
            sessionize_stream(stream())
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_file(batch1, "b1")
    out1 = str(tmp_path / "sess_out1")
    run_to(out1)
    first = _rows(spark.read.parquet(out1))
    assert first == [(7, 1, 3, base, base + 2 * gap, 3.0)]

    write_file(batch2, "b2")
    out2 = str(tmp_path / "sess_out2")
    run_to(out2)
    second = _rows(spark.read.parquet(out2))
    # session 1 re-emitted with ONLY the new-batch extension rows
    # (update mode: state knew last_ts/session_id, so the continuation
    # keeps id 1); session 2 opened by the 2 h gap.
    by_session = {r[1]: r for r in second}
    assert set(by_session) == {1, 2}
    assert by_session[1][4] == base + 4 * gap  # session 1 end extended
    assert by_session[2][2] == 1  # new session has the lone late event


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg over two availableNow runs: a row
    arriving in run 2 whose event time is far below the watermark
    must not re-open its (already finalized) window."""
    data_dir = tmp_path / "late_data"
    sink_dir = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "ckpt_late")
    os.makedirs(data_dir)

    base = (1_700_000_000 - 1_700_000_000 % 3_600) * 1_000_000_000  # hour-aligned

    def write_file(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
        time.sleep(0.05)

    def run():
        events = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(data_dir))
        q = (
            window_counts(events, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: events in hours 0..3 → watermark ends at 3h-1h = 2h;
    # windows [0,1) and [1,2) finalize and are emitted.
    write_file([(i, base + i * _HOUR_NS + 1_000_000, 1, "click", 1.0, "{}")
                for i in range(4)])
    run()
    out1 = spark.read.parquet(sink_dir)
    emitted1 = {r["window_start_ns"] for r in out1.collect()}
    assert base in emitted1 and base + _HOUR_NS in emitted1

    # run 2: one LATE event for hour 0 (below watermark → dropped) and
    # one for hour 5 (advances watermark to 4h → finalizes [2,3),[3,4)).
    write_file([(100, base + 2_000_000, 1, "late", 9.0, "{}"),
                (101, base + 5 * _HOUR_NS, 1, "click", 1.0, "{}")])
    run()
    out2 = spark.read.parquet(sink_dir)
    hour0 = out2.filter(F.col("window_start_ns") == base).collect()
    # the hour-0 window appears exactly once, with run-1's count only —
    # the late row was discarded by the watermark.
    assert len(hour0) == 1
    assert hour0[0]["n_events"] == 1
    assert hour0[0]["event_type"] == "click"


def test_event_time_col_roundtrip(spark):
    df = spark.range(1).select(
        event_time_col(F.lit(1_700_000_000_123_456_789)).alias("t")
    )
    (row,) = df.select(F.unix_micros("t").alias("us")).collect()
    assert row["us"] == 1_700_000_000_123_456


def test_dedup_stream_drops_duplicates_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-deliveries of the same
    event_id within the watermark are dropped, including across
    micro-batches (state carry)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import dedup_stream

    data_dir = tmp_path / "dedup_data"
    sink_dir = str(tmp_path / "dedup_sink")
    ckpt = str(tmp_path / "ckpt_dedup")
    os.makedirs(data_dir)
    base = 1_700_000_000 * 1_000_000_000

    def write_file(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
        time.sleep(0.05)

    def run():
        events = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(data_dir))
        q = (
            dedup_stream(events)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: ids 1,2 plus an in-batch duplicate of 1
    write_file([
        (1, base, 7, "click", 1.0, "{}"),
        (1, base + 10**9, 7, "click", 1.0, "{}"),
        (2, base + 2 * 10**9, 7, "view", 2.0, "{}"),
    ])
    run()
    assert sorted(r.event_id for r in spark.read.parquet(sink_dir).collect()) == [1, 2]

    # batch 2: re-delivery of id 2 (within watermark → dropped) + new id 3
    write_file([
        (2, base + 3 * 10**9, 7, "view", 2.0, "{}"),
        (3, base + 4 * 10**9, 7, "error", 3.0, "{}"),
    ])
    run()
    assert sorted(r.event_id for r in spark.read.parquet(sink_dir).collect()) == [1, 2, 3]


def test_session_window_agrees_with_lag_cumsum(spark):
    """Two independent sessionization mechanisms — F.session_window
    (gap-merging event-time windows) and the lag/cumsum batch twin —
    must produce identical (user, start, end, count, sum) sessions."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        event_time_col,
        sessionize_batch,
    )

    events = load(spark, SF_SMOKE, "events")
    sw = (
        events.withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1_000))
        .withColumn("event_time", event_time_col())
        .groupBy("user_id", F.session_window("event_time", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ns"),
            F.max("ts").alias("end_ns"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select("user_id", "start_ns", "end_ns", "n_events", "value_sum")
    )
    got = sorted(tuple(r) for r in sw.collect())
    want = sorted(
        (r.user_id, r.session_start_ns, r.session_end_ns, r.n_events, r.value_sum)
        for r in sessionize_batch(events).collect()
    )
    assert got == want


def test_incremental_gold_equals_full_recompute(spark, tmp_path):
    """The foreachBatch-maintained gold rollup, fed one file per
    micro-batch, must equal the one-shot batch rollup over all data
    (counts exactly; double sums to 1e-9)."""
    import math

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        merge_gold_window_counts,
        read_events_stream,
        read_gold_window_counts,
        window_counts,
    )

    gold = str(tmp_path / "gold_wc")
    q = (
        read_events_stream(spark, SF_SMOKE)
        .writeStream.foreachBatch(merge_gold_window_counts(gold))
        .option("checkpointLocation", str(tmp_path / "ckpt_gold"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in read_gold_window_counts(spark, gold).collect()
    }
    want = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in window_counts(load(spark, SF_SMOKE, "events")).collect()
    }
    assert set(got) == set(want)
    for k, (n, v) in want.items():
        assert got[k][0] == n
        assert math.isclose(got[k][1], v, abs_tol=1e-6), (k, got[k], (n, v))

    # crash-replay: re-delivering the LAST batch id must be a no-op
    # (marker inside the swapped dir), so gold never double-counts
    upsert = merge_gold_window_counts(gold)
    ev = load(spark, SF_SMOKE, "events")
    # the availableNow run used ids 0..N-1; merge a fresh larger id
    # once, then replay the SAME id — the second call must not change
    # gold
    upsert(ev.limit(10), 10_000)
    after_once = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in read_gold_window_counts(spark, gold).collect()
    }
    upsert(ev.limit(10), 10_000)
    after_twice = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in read_gold_window_counts(spark, gold).collect()
    }
    assert after_twice == after_once
    assert sum(n for n, _ in after_once.values()) == sum(
        n for n, _ in got.values()
    ) + 10


def test_sliding_windows_match_builtin_window_function(spark):
    """The explicit 4-offset expansion must equal Spark's built-in
    window(col, '1 hour', '15 minutes') — same windows, same counts."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    got = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in REGISTRY["sliding_window_counts"].fn(spark, SF_SMOKE).collect()
    }
    ev = load(spark, SF_SMOKE, "events").withColumn("event_time", event_time_col())
    built = (
        ev.groupBy(
            F.window("event_time", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            (F.unix_micros("w.start") * 1000).alias("window_start_ns"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    want = {
        (r.window_start_ns, r.event_type): (r.n_events, r.value_sum)
        for r in built.collect()
        if r.window_start_ns >= 0
    }
    assert got == want


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """The stream-static weight join must produce the batch twin's
    rows exactly (static side snapshots per micro-batch)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        enrich_with_type_weights,
        read_events_stream,
    )

    out = enrich_with_type_weights(read_events_stream(spark, SF_SMOKE)).select(
        "event_id", "event_type", F.round("weighted_value", 4).alias("wv")
    )
    _run_stream(out, "enrich_stream", "append", str(tmp_path / "ckpt_enrich"))
    got = _rows(spark.table("enrich_stream"))
    want = _rows(
        enrich_with_type_weights(load(spark, SF_SMOKE, "events")).select(
            "event_id", "event_type", F.round("weighted_value", 4).alias("wv")
        )
    )
    assert got == want and len(got) > 0


def test_python_stream_source_drains_deterministically(spark, tmp_path):
    """The custom Python DataSourceStreamReader must drain exactly
    STREAM_MAX_ROWS rows whose content equals the closed-form
    regeneration, regardless of how triggers sliced the offset range
    (row content depends only on the global index)."""
    import hashlib

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.pydatasource import (
        STREAM_MAX_ROWS,
        SyntheticSignalsStreamSource,
    )

    try:
        spark.dataSource.register(SyntheticSignalsStreamSource)
    except Exception:
        pass
    sink = str(tmp_path / "pyds_sink")
    ckpt = str(tmp_path / "pyds_ckpt")
    # processingTime trigger (not availableNow): the reader advances
    # its offset watermark one STREAM_BATCH_ROWS step per trigger, so
    # draining requires several genuine micro-batches — which is the
    # offset-progression behavior this test pins.
    q = (
        spark.readStream.format("synthetic_signals_stream")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() >= STREAM_MAX_ROWS:
                break
        except Exception:
            pass  # sink dir not created yet
        time.sleep(0.5)
    q.stop()

    got = sorted(
        (r.i, r.key, round(r.val, 9)) for r in spark.read.parquet(sink).collect()
    )
    expect = []
    for i in range(STREAM_MAX_ROWS):
        h = hashlib.md5(f"{i}".encode()).hexdigest()
        expect.append((i, h[:2], round(int(h[2:10], 16) / 4294967296.0, 9)))
    assert got == expect


def test_python_stream_reader_offsets_monotonic_across_restart():
    """A restarted reader instance must never hand the engine a
    reversed offset range: the checkpoint can hold a committed offset
    larger than a fresh instance's in-memory watermark (which restarts
    at 0).  partitions() clamps and fast-forwards; commit() re-seeds —
    so progress resumes from the checkpoint instead of stalling or
    replaying (ADVICE r3)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.pydatasource import (
        STREAM_BATCH_ROWS,
        _SyntheticStreamReader,
    )

    r = _SyntheticStreamReader()
    # Simulate recovery: the engine replans a batch whose START is the
    # checkpoint's committed offset (1000) while the fresh reader's
    # latestOffset() only reaches STREAM_BATCH_ROWS.
    latest = r.latestOffset()
    assert latest == {"idx": STREAM_BATCH_ROWS}
    parts = r.partitions({"idx": 1000}, latest)
    for p in parts:
        lo, hi = p.value
        assert lo <= hi, f"reversed range {p.value}"
    # No phantom rows from the clamped (empty) recovery batch...
    assert sum(len(list(r.read(p))) for p in parts) == 0
    # ...and the next trigger advances PAST the restored watermark.
    nxt = r.latestOffset()["idx"]
    assert nxt > 1000

    # commit() alone must also re-seed (engine may commit before
    # planning the next batch).
    r2 = _SyntheticStreamReader()
    r2.commit({"idx": 1500})
    assert r2.latestOffset()["idx"] > 1500


def test_lifetime_stats_stream_accumulates_across_batches(spark, tmp_path):
    """Per-user lifetime stats accumulate in RocksDB-backed state
    across micro-batches; the last emission per user must equal the
    batch groupBy aggregate, and a user touched by two batches must be
    emitted by both (state carried, not reset)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        user_lifetime_stats_stream,
    )

    data_dir = tmp_path / "tws_data"
    os.makedirs(data_dir)
    base = 1_700_000_000 * 1_000_000_000

    def write_file(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
        time.sleep(0.05)

    # user 7 split across both files; user 8 only in the first
    write_file([
        (1, base, 7, "click", 1.5, "{}"),
        (2, base + 10**9, 7, "view", 2.0, "{}"),
        (3, base + 2 * 10**9, 8, "click", 4.0, "{}"),
    ])
    write_file([
        (4, base + 3 * 10**9, 7, "purchase", 10.0, "{}"),
    ])

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
            .parquet(str(data_dir))
        )
        q = (
            user_lifetime_stats_stream(events)
            .writeStream.format("memory")
            .queryName("tws_stats")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    rows = spark.table("tws_stats").collect()
    # update mode re-emits per batch: keep the final (max n_events) row per user
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    assert final[7].n_events == 3 and abs(final[7].value_total - 13.5) < 1e-9
    assert final[8].n_events == 1 and abs(final[8].value_total - 4.0) < 1e-9
    # user 7 must have been emitted by BOTH batches (state carried, not reset)
    assert sorted(r.n_events for r in rows if r.user_id == 7) == [2, 3]


def test_click_error_outer_join_stream_semantics(spark, tmp_path):
    """Outer stream-stream join: (a) every INNER pair is emitted,
    (b) every emitted row appears in the batch twin, (c) NULL-padded
    rows ARE emitted for unmatched clicks — but only those whose
    10-minute window closed before the final watermark (min of both
    sides' max event time − 30 min); clicks near stream end stay in
    state, which is exactly the once-only late-emission semantics the
    operator exists to provide."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        TEN_MIN_NS,
        read_events_stream,
    )
    from pyspark.sql import functions as F

    events = read_events_stream(spark, SF_SMOKE)
    _run_stream(
        click_error_pairs(events, how="left"),
        "ceo_stream",
        "append",
        str(tmp_path / "ckpt_ceo"),
    )
    got = {tuple(r) for r in spark.table("ceo_stream").collect()}

    batch_events = load(spark, SF_SMOKE, "events")
    batch = click_error_pairs(batch_events, how="left").collect()
    inner = {tuple(r) for r in batch if r.error_id is not None}
    outer = {tuple(r) for r in batch if r.error_id is None}

    # (a) inner pairs emit eagerly and completely
    assert inner <= got
    # (c) outer rows whose window provably closed must have emitted
    wm_ns = (
        batch_events.filter(F.col("event_type").isin("click", "error"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(F.min("mx"))
        .first()[0]
        - 30 * 60 * 1_000_000_000
    )
    must_emit = {
        t for t in outer if t[3] + TEN_MIN_NS < wm_ns - 1_000_000_000
    }
    assert must_emit and must_emit <= got
    # (b) nothing fabricated: stream ⊆ batch
    assert got <= inner | outer
    # outer semantics actually exercised
    assert any(t[2] is None for t in got)


def test_running_balance_stream_equals_batch_walk(spark, tmp_path):
    """The stateful streaming balance walk, fed the events fixture in
    three chronological micro-batches, must emit per-event balances
    identical to the batch two-sided walk — the carried int state
    fully summarizes the clamp recursion."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        running_balance_stream,
    )

    ev = load(spark, SF_SMOKE, "events").orderBy("ts", "event_id").collect()
    n = len(ev)
    data_dir = tmp_path / "bal_data"
    os.makedirs(data_dir)
    for chunk in (ev[: n // 3], ev[n // 3 : 2 * n // 3], ev[2 * n // 3 :]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(
            str(data_dir)
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema(spark.createDataFrame(ev[:1]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )
    q = (
        running_balance_stream(stream)
        .writeStream.format("memory")
        .queryName("bal_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_bal"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = {
        (r.user_id, r.event_id): r.balance_cents
        for r in spark.table("bal_stream").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): r["balance_cents"]
        for r in REGISTRY["bounded_running_balance_stateful"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert got == want


def test_streaming_ivf_ingest_equals_batch_append(spark, tmp_path):
    """The vector index's streaming-ingest law: the delta split
    written as THREE files, streamed one file per micro-batch through
    `merge_inverted_file` (frozen-quantizer filing + per-cell count
    merge), must accumulate exactly `ivf_file_delta`'s one-shot
    per-cell n_added accounting — streaming == batch, the invariant
    every incremental tier pins (gold window counts, Bloom append,
    incremental LSH).  Replay of the last batch id must be a no-op."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.similarity import (
        _ivf_delta_flag,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        merge_inverted_file,
        read_embedding_stream,
    )

    src = str(tmp_path / "arriving")
    delta = (
        load(spark, SF_SMOKE, "embeddings")
        .filter(_ivf_delta_flag())
        .select("vec_id", "label", "embedding")
    )
    delta.repartition(3).write.parquet(src)

    index_dir = str(tmp_path / "inverted_file")
    q = (
        read_embedding_stream(spark, src)
        .writeStream.foreachBatch(merge_inverted_file(index_dir, SF_SMOKE))
        .option("checkpointLocation", str(tmp_path / "ckpt_ivf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.cell: r.n_added for r in spark.read.parquet(index_dir).collect()}
    want = {
        r.cell: r.n_added
        for r in REGISTRY["ivf_file_delta"].fn(spark, SF_SMOKE).collect()
        if r.n_added > 0
    }
    assert got == want

    # replay idempotence: re-delivering an already-applied id is a no-op
    upsert = merge_inverted_file(index_dir, SF_SMOKE)
    upsert(delta.limit(5), 0)
    after = {r.cell: r.n_added for r in spark.read.parquet(index_dir).collect()}
    assert after == got


def test_gold_merge_recovers_mid_commit_crash(spark, tmp_path):
    """The shared gold-merge protocol's crash window (r11 self-review
    fix): a crash between detach (gold → gold._old) and promote
    (tmp → gold) must not lose the accumulated table — the next
    upsert restores the old generation and re-merges the lost batch,
    ending bit-equal to the no-crash run."""
    import os

    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        _merge_parquet_gold,
    )

    gold = str(tmp_path / "gold_crash")
    merge = _merge_parquet_gold(gold, ["k"], ["n"])
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k int, n long")
    b1 = spark.createDataFrame([(1, 5), (3, 7)], "k int, n long")
    merge(b0, 0)
    merge(b1, 1)
    want = {r.k: r.n for r in spark.read.parquet(gold).collect()}
    assert want == {1: 15, 2: 20, 3: 7}

    # simulate the crash: batch 2's merge detached the current
    # generation and died before promoting the new one
    os.replace(gold, gold + "._old")
    assert not os.path.isdir(gold)
    b2 = spark.createDataFrame([(2, 1)], "k int, n long")
    merge(b2, 2)  # recovery path: restore ._old, then merge batch 2
    got = {r.k: r.n for r in spark.read.parquet(gold).collect()}
    assert got == {1: 15, 2: 21, 3: 7}
    assert not os.path.isdir(gold + "._old")  # stale generation reaped

    # replay of an applied id stays a no-op after recovery
    merge(b2, 2)
    again = {r.k: r.n for r in spark.read.parquet(gold).collect()}
    assert again == got


def test_streamed_drift_equals_batch_drift_after_drain(spark, tmp_path):
    """The streaming drift edge closed (r11 verdict #5): the delta
    split streamed as THREE micro-batches through `merge_cell_moments`
    (frozen-quantizer filing + per-(cell, dim) moment-sum merge), then
    read through `streamed_drift_stats` (streamed moments + the
    standing ingest artifact), must equal the BATCH
    `ivf_codebook_drift_stats` after the same file drop — cell-exact
    on counts, 6dp-exact on the cosine, flag-exact on the retrain
    trigger.  So the retrain decision works off continuously-ingested
    state, not a batch rescan."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.similarity import (
        _ivf_delta_flag,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        merge_cell_moments,
        read_embedding_stream,
        streamed_drift_stats,
    )

    src = str(tmp_path / "arriving_moments")
    delta = (
        load(spark, SF_SMOKE, "embeddings")
        .filter(_ivf_delta_flag())
        .select("vec_id", "label", "embedding")
    )
    delta.repartition(3).write.parquet(src)

    index_dir = str(tmp_path / "cell_moments")
    q = (
        read_embedding_stream(spark, src)
        .writeStream.foreachBatch(merge_cell_moments(index_dir, SF_SMOKE))
        .option("checkpointLocation", str(tmp_path / "ckpt_moments"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.cell: (r.n_members, r.n_added, r.codebook_cosine, r.retrain_flagged)
        for r in streamed_drift_stats(spark, index_dir, SF_SMOKE).collect()
    }
    want = {
        r.cell: (r.n_members, r.n_added, r.codebook_cosine, r.retrain_flagged)
        for r in REGISTRY["ivf_codebook_drift_stats"].fn(spark, SF_SMOKE).collect()
    }
    # NOTE (r12 advisor): the streamed side computes member means as
    # sum(sum_x)/sum(n) over micro-batch partial sums while the batch
    # signal averages raw members, so the unrounded cosines differ by
    # float-associativity ulps.  The exact == below holds because the
    # 6dp rounding in _cosine_agg absorbs those ulps — a cosine
    # landing EXACTLY on a .5e-6 boundary could flip one rounded
    # digit.  Counts and flags are integer/threshold-exact regardless;
    # if this line ever flakes on the cosine alone, compare
    # codebook_cosine with a 1e-6 tolerance and keep the rest exact.
    assert got == want
    assert any(v[1] > 0 for v in got.values())  # the stream really added


def test_streamed_maintenance_decision_equals_batch(spark, tmp_path):
    """The WHOLE maintenance loop off streamed state: after the same
    3-micro-batch drain, `streamed_maintenance_decision` (streamed
    drift + streamed occupancy + the standing balance artifact,
    through the SHARED decision ladder) equals the registered batch
    `ivf_maintenance_decision` on every column — the retrain/refile/
    wait verdict a scheduler polls between micro-batches needs no
    batch rescan."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.similarity import (
        _ivf_delta_flag,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        merge_cell_moments,
        read_embedding_stream,
        streamed_maintenance_decision,
    )

    src = str(tmp_path / "arriving_dec")
    (
        load(spark, SF_SMOKE, "embeddings")
        .filter(_ivf_delta_flag())
        .select("vec_id", "label", "embedding")
        .repartition(3)
        .write.parquet(src)
    )
    index_dir = str(tmp_path / "dec_moments")
    q = (
        read_embedding_stream(spark, src)
        .writeStream.foreachBatch(merge_cell_moments(index_dir, SF_SMOKE))
        .option("checkpointLocation", str(tmp_path / "ckpt_dec"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = (
        "codebook_cosine", "retrain_flagged", "n_after", "oversized_after",
        "occ_oversized", "refile_due", "cycle_trigger", "action",
    )
    got = {
        r.cell: tuple(getattr(r, c) for c in cols)
        for r in streamed_maintenance_decision(spark, index_dir, SF_SMOKE).collect()
    }
    want = {
        r.cell: tuple(getattr(r, c) for c in cols)
        for r in REGISTRY["ivf_maintenance_decision"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert {v[-1] for v in got.values()} == {"retrain", "refile", "wait"}


def test_streamed_maintenance_execute_equals_batch(spark, tmp_path):
    """The streamed ACTION edge (r12 verdict #3): after the same
    3-micro-batch drain through BOTH streamed index golds — the
    moments table (`merge_cell_moments`, decision state) and the
    vec-grain membership table (`append_member_filing`, executor
    state) — `streamed_maintenance_execute` must equal the one-shot
    batch `ivf_maintenance_execute` cell-exactly on every column:
    same branch sets, same split halves, same retrain/wait counts.
    The whole cycle — signal, decision, AND action — now runs off
    continuously-ingested state with no rescan of the replayed
    stream."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.similarity import (
        _ivf_delta_flag,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load
    from damg7245_casestudy_03_ai_scoring_engine_spark.streaming.jobs import (
        append_member_filing,
        merge_cell_moments,
        read_embedding_stream,
        streamed_maintenance_execute,
    )

    src = str(tmp_path / "arriving_exec")
    (
        load(spark, SF_SMOKE, "embeddings")
        .filter(_ivf_delta_flag())
        .select("vec_id", "label", "embedding")
        .repartition(3)
        .write.parquet(src)
    )
    moments_dir = str(tmp_path / "exec_moments")
    filing_dir = str(tmp_path / "exec_filing")
    for body, ckpt in (
        (merge_cell_moments(moments_dir, SF_SMOKE), "ckpt_exec_m"),
        (append_member_filing(filing_dir, SF_SMOKE), "ckpt_exec_f"),
    ):
        q = (
            read_embedding_stream(spark, src)
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = {
        r.new_cell: (r.parent_cell, r.action, r.n_vecs)
        for r in streamed_maintenance_execute(
            spark, filing_dir, moments_dir, SF_SMOKE
        ).collect()
    }
    want = {
        r.new_cell: (r.parent_cell, r.action, r.n_vecs)
        for r in REGISTRY["ivf_maintenance_execute"].fn(spark, SF_SMOKE).collect()
    }
    # see the drain-law rounding note above: exact == rests on the 6dp
    # rounding absorbing moments-vs-raw-mean ulps in the retrain argmax
    assert got == want
    assert {v[1] for v in got.values()} == {"retrain", "refile", "wait"}
    # the membership gold really carried the appended members
    assert sum(v[2] for v in got.values()) == load(
        spark, SF_SMOKE, "embeddings"
    ).count()
