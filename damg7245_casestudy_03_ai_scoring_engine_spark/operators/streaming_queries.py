"""Registry entries for the streaming extensions' batch side
(SURVEY.md §2.10), plus the event-time window and series analytics
built on the same events table.

`stream_window_counts`, `session_window_rollup`,
`max_concurrent_sessions`, `click_error_followups` and
`click_error_outer_rate` call the very function a streaming job in
streaming/jobs.py drains (`window_counts`, `session_window_rollup`,
`click_error_pairs`); `bounded_running_balance_stateful` shares its
delta projection and clamp-walk kernel with `running_balance_stream`.
The DuckDB oracle checks the batch result here, and
tests/test_streaming.py checks the drained stream against it.  All
window boundaries are int64-nanosecond epoch arithmetic — identical
in both engines and independent of session timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.core import topk_ranked
from ..sources.catalog import DAY_NS, HOUR_NS, WEEK_NS, load
from ..streaming.jobs import SESSION_GAP_NS, sessionize_batch, window_counts
from .registry import register


@register(
    "stream_window_counts",
    survey="§2.10 tumbling window (window_counts, batch+stream shared)",
    oracle=f"""
SELECT epoch_ns(ts) - epoch_ns(ts) % {HOUR_NS} AS window_start_ns,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
""",
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event rollup — `streaming/jobs.py::window_counts`
    on the batch table; the same function drains the watermarked
    stream.  Replaces the reference's DATEADD summary windows
    (signal_summaries.py:82-93)."""
    return window_counts(load(spark, sf_dir, "events"))


@register(
    "user_sessionization",
    survey="§2.10 stateful op (batch twin of applyInPandasWithState), W5",
    bench=True,
    oracle=f"""
WITH o AS (
    SELECT user_id, epoch_ns(ts) AS ts, value,
           lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
f AS (
    SELECT user_id, ts, value,
           CASE WHEN prev_ts IS NULL OR ts - prev_ts > {SESSION_GAP_NS}
                THEN 1 ELSE 0 END AS is_new
    FROM o
),
s AS (
    SELECT user_id, ts, value,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_id
    FROM f
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start_ns,
       max(ts) AS session_end_ns,
       round(sum(value), 4) AS value_sum
FROM s
GROUP BY user_id, session_id
""",
)
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessionization via lag + running-sum
    session flags (analytic frames, W5) — the batch twin of the
    applyInPandasWithState streaming operator.

    Reference: SURVEY.md §2.10 (streaming absent in reference; extension batch twin).
    """
    return sessionize_batch(load(spark, sf_dir, "events"))


@register(
    "session_window_rollup",
    survey="§2.10 native session windows (F.session_window, batch+stream shared plan)",
    oracle=f"""
WITH o AS (
    SELECT user_id, epoch_ns(ts) AS ts, value,
           lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
f AS (
    SELECT user_id, ts, value,
           CASE WHEN prev_ts IS NULL OR ts - prev_ts > {SESSION_GAP_NS}
                THEN 1 ELSE 0 END AS is_new
    FROM o
),
s AS (
    SELECT user_id, ts, value,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS grp
    FROM f
)
SELECT user_id,
       min(ts) AS session_start_ns,
       max(ts) + {SESSION_GAP_NS} AS session_end_ns,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum
FROM s
GROUP BY user_id, grp
""",
)
def session_window_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `F.session_window` gap-merging sessions — the
    Spark-idiomatic twin of `user_sessionization` whose plan runs
    unchanged on a watermarked stream.  The oracle replays the
    gap-islands formulation (a new session only when the gap is
    STRICTLY exceeded; session end = last event + gap — both verified
    against session_window's merge rule in tests/test_streaming.py)."""
    from ..streaming.jobs import session_window_rollup

    return session_window_rollup(load(spark, sf_dir, "events"))


@register(
    "click_error_followups",
    bench=True,
    survey="J8,§2.10 (extension: interval join / stream-stream join twin)",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events
)
SELECT c.user_id, c.event_id AS click_id, er.event_id AS error_id,
       c.ts_ns AS click_ts_ns, er.ts_ns AS error_ts_ns
FROM e c
JOIN e er ON c.user_id = er.user_id
         AND c.event_type = 'click' AND er.event_type = 'error'
         AND er.ts_ns > c.ts_ns
         AND er.ts_ns <= c.ts_ns + 600000000000
""",
)
def click_error_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: errors within 10 minutes after a same-user click
    (funnel attribution).  `streaming/jobs.py::click_error_pairs` on
    the batch table; drained over a stream the same function runs as
    the watermarked stream-stream join, tested equal in
    tests/test_streaming.py, so the incremental and full-scan paths
    provably agree."""
    from ..streaming.jobs import click_error_pairs

    return click_error_pairs(load(spark, sf_dir, "events"))


_15MIN_NS = 900 * 1_000_000_000


@register(
    "sliding_window_counts",
    survey="§2.10 (extension: sliding event-time windows)",
    bench=False,
    oracle=f"""
WITH e AS (
    SELECT epoch_ns(ts) AS t, event_type, value FROM events
),
slid AS (
    SELECT (t - t % {_15MIN_NS}) - (o.o * {_15MIN_NS}) AS window_start_ns,
           event_type, value
    FROM e, (SELECT unnest(range(0, 4)) AS o) o
)
SELECT window_start_ns, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum
FROM slid
WHERE window_start_ns >= 0
GROUP BY window_start_ns, event_type
""",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide): every
    event contributes to the 4 overlapping windows that contain it —
    expressed as an explode of the 4 slide offsets from the event's
    15-min floor, which is exactly how Spark's `window(col, '1 hour',
    '15 minutes')` expands internally.  All boundary math is int64-ns
    epoch arithmetic (timezone-proof); the streaming twin is the same
    expression under a watermark, per the module's batch/stream
    symmetry."""
    ev = load(spark, sf_dir, "events")
    floor15 = F.col("ts") - F.col("ts") % F.lit(_15MIN_NS)
    slid = (
        ev.select(
            floor15.alias("floor15"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("o"),
            "event_type",
            "value",
        )
        .select(
            (F.col("floor15") - F.col("o") * F.lit(_15MIN_NS)).alias("window_start_ns"),
            "event_type",
            "value",
        )
        .filter(F.col("window_start_ns") >= 0)
    )
    return slid.groupBy("window_start_ns", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


@register(
    "session_conversion_funnel",
    survey="W5,§2.10 (extension: in-session ordered funnel)",
    oracle=f"""
WITH o AS (
    SELECT user_id, epoch_ns(ts) AS ts, event_type,
           lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
f AS (
    SELECT user_id, ts, event_type,
           CASE WHEN prev_ts IS NULL OR ts - prev_ts > {SESSION_GAP_NS}
                THEN 1 ELSE 0 END AS is_new
    FROM o
),
s AS (
    SELECT user_id, ts, event_type,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_id
    FROM f
),
stages AS (
    SELECT user_id, session_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy_any
    FROM s GROUP BY user_id, session_id
),
steps AS (
    SELECT user_id, session_id,
           t_view IS NOT NULL AS viewed,
           t_view IS NOT NULL AND t_click_any > t_view AS clicked_after,
           t_view IS NOT NULL AND t_click_any > t_view
               AND t_buy_any > t_click_any AS converted
    FROM stages
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(sum(CASE WHEN clicked_after THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
       CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM steps
""",
)
def session_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered in-session funnel: within each 30-min-gap session,
    count sessions that viewed, then clicked AFTER the first view,
    then purchased AFTER that click — the strict-ordering funnel
    product analytics runs (a mere per-session type census would
    overcount).  Stage timestamps are min-CASE aggregates over the
    sessionized frame; comparisons are int64-ns, NULL-safe by SQL
    three-valued logic identically in both engines."""
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1_000))

    by_user = Window.partitionBy("user_id").orderBy("ts")
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(by_user)
    is_new = F.when(
        prev_ts.isNull() | ((F.col("ts") - prev_ts) > F.lit(SESSION_GAP_NS)), 1
    ).otherwise(0)
    s = (
        ev.select("user_id", "ts", "event_type", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    stages = s.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click_any"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy_any"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click_any") > F.col("t_view"))
    converted = clicked & (F.col("t_buy_any") > F.col("t_click_any"))
    return stages.select(
        viewed.alias("viewed"), clicked.alias("clicked"), converted.alias("converted")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("viewed").cast("int")).cast("bigint").alias("n_viewed"),
        F.sum(F.col("clicked").cast("int")).cast("bigint").alias("n_clicked"),
        F.sum(F.col("converted").cast("int")).cast("bigint").alias("n_converted"),
    )


@register(
    "cohort_retention",
    survey="W5,A2 (extension: weekly cohort retention matrix)",
    oracle=f"""
WITH e AS (
    SELECT user_id, epoch_ns(ts) AS t FROM events
),
firsts AS (
    SELECT user_id, min(t) - min(t) % {WEEK_NS} AS cohort_week
    FROM e GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_week,
           CAST((t - t % {WEEK_NS} - f.cohort_week) / {WEEK_NS} AS BIGINT) AS week_offset
    FROM e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(max(count(*)) OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size
FROM activity
GROUP BY cohort_week, week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    counted distinct-active per subsequent week offset — the retention
    matrix every growth dashboard draws.  cohort_size rides a window
    max over the week-0 row (week 0 contains every cohort member by
    construction).  Epoch-floor week math on int64 ns: engine- and
    timezone-exact.

    Scale shape: one groupBy for first-seen, one distinct + groupBy
    for the matrix — both key on user_id/cohort so partial aggregation
    applies; no self-join over history."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", (F.col("ts") - F.col("ts") % F.lit(1_000)).alias("t")
    )
    firsts = ev.groupBy("user_id").agg(
        (F.min("t") - F.min("t") % F.lit(WEEK_NS)).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (F.col("t") - F.col("t") % F.lit(WEEK_NS) - F.col("cohort_week"))
                / F.lit(WEEK_NS)
            ).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )

    counts = activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    return counts.withColumn(
        "cohort_size",
        F.max("n_active").over(Window.partitionBy("cohort_week")).cast("bigint"),
    )


@register(
    "activity_streaks",
    survey="W5 (extension: gaps-and-islands consecutive-day streaks)",
    oracle=f"""
WITH days AS (
    SELECT DISTINCT user_id,
           epoch_ns(ts) // {DAY_NS} AS day_idx
    FROM events
),
grouped AS (
    SELECT user_id, day_idx,
           day_idx - row_number() OVER (
               PARTITION BY user_id ORDER BY day_idx
           ) AS island
    FROM days
),
streaks AS (
    SELECT user_id, island,
           CAST(count(*) AS BIGINT) AS streak_days,
           CAST(min(day_idx) AS BIGINT) AS start_day
    FROM grouped GROUP BY user_id, island
)
SELECT user_id,
       CAST(max(streak_days) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(sum(streak_days) AS BIGINT) AS active_days
FROM streaks
GROUP BY user_id
""",
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-active-day streaks
    via the classic `day_idx − row_number()` island key (consecutive
    days share it, a gap shifts it) — streak length, count, and total
    active days per user.  Day indexing is integer epoch-floor, so
    both engines bucket identically with no calendar/timezone code."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts div {DAY_NS}").alias("day_idx")
    ).distinct()

    w = Window.partitionBy("user_id").orderBy("day_idx")
    grouped = days.withColumn(
        "island", F.col("day_idx") - F.row_number().over(w)
    )
    streaks = grouped.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.sum("streak_days").cast("bigint").alias("active_days"),
    )


@register(
    "stream_dedup_twin",
    survey="§2.10 stream dedup (batch twin of dropDuplicatesWithinWatermark), W1",
    oracle=f"""
WITH keyed AS (
    SELECT user_id, event_type, event_id, value,
           epoch_ns(ts) // {HOUR_NS} AS hour_idx,
           epoch_ns(ts) AS ts_ns,
           row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ns(ts) // {HOUR_NS}
               ORDER BY ts, event_id
           ) AS rk
    FROM events
)
SELECT user_id, event_type,
       CAST(hour_idx AS BIGINT) AS hour_idx,
       event_id AS first_event_id,
       ts_ns AS first_ts_ns,
       round(value, 4) AS first_value
FROM keyed
WHERE rk = 1
""",
)
def stream_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream dedup
    (`streaming/jobs.py::dedup_stream` /
    `dropDuplicatesWithinWatermark`): keep the EARLIEST event per
    (user, event_type, hour) — exactly what the streaming operator
    converges to once the watermark passes each hour bucket, which is
    why a deterministic batch window can oracle-check it.  ts/event_id
    ordering makes the kept row unique, unlike a bare dropDuplicates.

    Scale shape: one window over the dedup-key partition — the same
    single hash shuffle the streaming state store partitions by."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.expr(f"ts div {HOUR_NS}").alias("hour_idx"),
        F.col("ts").alias("ts_ns"),
    )
    return topk_ranked(
        keyed, "PARTITION BY user_id, event_type, hour_idx ORDER BY ts_ns, event_id", 1
    ).select(
        "user_id",
        "event_type",
        F.col("hour_idx").cast("bigint").alias("hour_idx"),
        F.col("event_id").alias("first_event_id"),
        F.col("ts_ns").alias("first_ts_ns"),
        F.round("value", 4).alias("first_value"),
    )


_EWMA_ALPHA = 0.25


@register(
    "ewma_user_values",
    survey="W5 (extension: per-key exponential smoothing fold)",
    oracle=f"""
WITH g AS (
    SELECT user_id,
           list_sort(list({{'ts': epoch_ns(ts), 'event_id': event_id,
                            'value': value}})) AS items
    FROM events
    GROUP BY user_id
)
SELECT user_id,
       CAST(len(items) AS BIGINT) AS n_events,
       items[len(items)].ts AS last_ts_ns,
       floor(list_reduce(list_transform(items, x -> x.value),
                         (acc, x) -> acc * CAST({1 - _EWMA_ALPHA} AS DOUBLE)
                                     + x * CAST({_EWMA_ALPHA} AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS ewma
FROM g
""",
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.25) of event values in event-time order —
    the trend-smoothing aggregate behind anomaly baselines, computed
    as a NATIVE higher-order fold over the per-key ordered value list
    (no Python, no window-frame re-scan per row).  The DuckDB oracle
    runs the IDENTICAL left fold via list_reduce, so the doubles agree
    bit-for-bit before rounding.

    Scale shape: one groupBy shuffle on user_id; state per key is the
    ordered value array (bounded by per-user event count — the same
    bound a streaming EWMA's state store carries).  (ts, event_id)
    struct ordering makes the fold order total and deterministic."""
    ev = load(spark, sf_dir, "events")
    items = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value")))
    )
    g = ev.groupBy("user_id").agg(items.alias("items"))
    vals = F.transform(F.col("items"), lambda x: x["value"])
    fold = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1 - _EWMA_ALPHA) + x * F.lit(_EWMA_ALPHA),
    )
    return g.select(
        "user_id",
        F.size("items").cast("bigint").alias("n_events"),
        F.element_at(F.col("items"), -1)["ts"].alias("last_ts_ns"),
        (F.floor(fold * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("ewma"),
    )


_CUSUM_K = 60.0  # target + slack: drift means sustained values above this
_CUSUM_H = 300.0  # decision threshold on the max CUSUM statistic


@register(
    "cusum_drift_flags",
    survey="W5,M-extension (CUSUM change detection via prefix-sum/running-min closed form)",
    oracle=f"""
WITH o AS (
    SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, value - {_CUSUM_K} AS d
    FROM events
),
s1 AS (
    SELECT user_id, ts_ns, event_id,
           sum(d) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                        ROWS UNBOUNDED PRECEDING) AS s_run
    FROM o
),
s AS (
    SELECT user_id, s_run,
           least(min(s_run) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                                  ROWS UNBOUNDED PRECEDING), 0.0) AS s_low
    FROM s1
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(max(s_run - s_low) * 1e6 + 0.5) / 1e6 AS max_cusum,
       CAST(CASE WHEN max(s_run - s_low) > {_CUSUM_H} THEN 1 ELSE 0 END AS INT)
           AS drift_flag
FROM s
GROUP BY user_id
""",
)
def cusum_drift_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection per user: the textbook
    recursion C_t = max(0, C_{t-1} + (x_t - k)) equals
    S_t - min(0, S_1..S_t) for the prefix sum S of (x - k), so the
    whole statistic is two analytic-frame windows — prefix sum and
    running minimum — with NO sequential recursion anywhere.  Users
    whose max CUSUM exceeds h carry a sustained upward value drift
    (the monitoring primitive behind rate/fraud/quality alarms).

    Cross-engine exactness: both engines evaluate the running frames
    in the same (ts, event_id) total order, so the doubles agree
    bit-for-bit before the shared floor-rounding formula.

    Scale shape: one hash shuffle on user_id; both windows share the
    same sort — Catalyst plans a single WindowExec pass."""
    ev = load(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        F.col("ts").alias("ts_ns"),
        "event_id",
        (F.col("value") - F.lit(_CUSUM_K)).alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = o.select(
        "user_id",
        "ts_ns",
        "event_id",
        F.sum("d").over(w).alias("s_run"),
    ).select(
        "user_id",
        "s_run",
        F.least(
            F.min("s_run").over(
                Window.partitionBy("user_id")
                .orderBy("ts_ns", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
            F.lit(0.0),
        ).alias("s_low"),
    )
    cusum = F.col("s_run") - F.col("s_low")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.floor(F.max(cusum) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "max_cusum"
        ),
        (F.max(cusum) > F.lit(_CUSUM_H)).cast("int").alias("drift_flag"),
    )


_WM_DELAYS_NS = (60_000_000_000, 600_000_000_000, 3_600_000_000_000)  # 1m/10m/1h


@register(
    "watermark_drop_audit",
    survey="§2.10 (extension: watermark-policy what-if audit)",
    oracle=f"""
WITH arr AS (
    SELECT event_id, epoch_ns(ts) AS ts_ns,
           max(epoch_ns(ts)) OVER (
               PARTITION BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))::BIGINT % 16
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ROWS UNBOUNDED PRECEDING) AS max_seen_ns
    FROM events
),
lateness AS (
    SELECT event_id, greatest(max_seen_ns - ts_ns, 0) AS late_ns FROM arr
),
d AS (SELECT unnest([{", ".join(str(d) for d in _WM_DELAYS_NS)}]) AS delay_ns)
SELECT CAST(d.delay_ns AS BIGINT) AS delay_ns,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_ns > d.delay_ns THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       floor(sum(CASE WHEN late_ns > d.delay_ns THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS drop_frac,
       CAST(max(late_ns) AS BIGINT) AS max_late_ns
FROM lateness, d
GROUP BY d.delay_ns
""",
)
def watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy what-if: replaying the events in a
    DETERMINISTIC hash-shuffled arrival order (md5 of event_id — the
    driver testdata arrives perfectly time-sorted, so an adversarial
    arrival model is simulated), an event's lateness is how far its
    event time trails the running max event time at its arrival; for each
    candidate watermark delay (1 min / 10 min / 1 h) report how many
    events a `withWatermark(delay)` stream would DROP.  This is the
    sizing query you run before picking a production watermark —
    too short silently loses data, too long bloats state.

    The replay is sharded 16 ways by a hash of the arrival key and
    the running max advances PER SHARD — exactly how Spark's
    watermark really advances (per ingest partition, with the global
    watermark as their min), and it keeps the window
    partition-parallel instead of a global sequential scan."""
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("arr_key", F.md5(F.col("event_id").cast("string")))
    shard = (
        F.conv(F.substring("arr_key", 1, 2), 16, 10).cast("bigint") % 16
    ).alias("shard")
    ev = ev.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy("arr_key", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        F.greatest(
            F.max("ts").over(w) - F.col("ts"), F.lit(0).cast("long")
        ).alias("late_ns")
    )
    delays = spark.createDataFrame(
        [(d,) for d in _WM_DELAYS_NS], "delay_ns bigint"
    )
    return (
        late.crossJoin(F.broadcast(delays))
        .groupBy("delay_ns")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("late_ns") > F.col("delay_ns")).cast("int"))
            .cast("bigint")
            .alias("n_dropped"),
            (
                F.floor(
                    F.sum((F.col("late_ns") > F.col("delay_ns")).cast("int"))
                    / F.count(F.lit(1)).cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("drop_frac"),
            F.max("late_ns").cast("bigint").alias("max_late_ns"),
        )
    )


@register(
    "event_transition_matrix",
    survey="W5 (extension: first-order Markov transition matrix)",
    oracle="""
WITH o AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type AS cur, next_type AS nxt FROM o WHERE next_type IS NOT NULL
),
c AS (
    SELECT cur, nxt, count(*) AS n,
           sum(count(*)) OVER (PARTITION BY cur) AS n_cur
    FROM pairs GROUP BY cur, nxt
)
SELECT cur, nxt, CAST(n AS BIGINT) AS n,
       floor(n / CAST(n_cur AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p
FROM c
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next=b | cur=a) from lead() pairs in (ts, event_id)
    order — the sequence-model feature behind next-action prediction
    and anomaly scoring.  Probabilities are integer-count ratios, so
    both engines divide the same exact ints.

    Scale shape: one user-partitioned window for the lead, one
    partial-agg groupBy on the (cur, nxt) pair — both partition on
    their natural keys."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    c = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    n_cur = F.sum("n").over(Window.partitionBy("cur"))
    return c.select(
        "cur",
        "nxt",
        F.col("n").cast("bigint").alias("n"),
        (
            F.floor(F.col("n") / n_cur.cast("double") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("p"),
    )


@register(
    "click_error_outer_rate",
    survey="J8,§2.10 (extension: LEFT OUTER interval join / outer stream-stream twin)",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events
),
j AS (
    SELECT c.user_id, c.event_id AS click_id, er.event_id AS error_id
    FROM e c
    LEFT JOIN e er ON c.user_id = er.user_id
                  AND er.event_type = 'error'
                  AND er.ts_ns > c.ts_ns
                  AND er.ts_ns <= c.ts_ns + 600000000000
    WHERE c.event_type = 'click'
)
SELECT user_id,
       count(DISTINCT click_id) AS n_clicks,
       count(DISTINCT CASE WHEN error_id IS NULL THEN click_id END) AS n_clean_clicks,
       count(error_id) AS n_followup_errors
FROM j
GROUP BY user_id
""",
)
def click_error_outer_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join rolled up per user: clicks with NO
    error inside the 10-minute follow-up window are the outer
    (NULL-padded) rows — the 'no incident' branch an attribution
    pipeline needs.  The join is `streaming/jobs.py::click_error_pairs`
    with how="left"; over a stream the same call is the outer
    stream-stream join, whose null rows Spark can only emit once the
    error-side watermark passes click_time + 10 min.  Drain-tested in
    tests/test_streaming.py."""
    from ..streaming.jobs import click_error_pairs

    j = click_error_pairs(load(spark, sf_dir, "events"), how="left")
    return j.groupBy("user_id").agg(
        F.countDistinct("click_id").alias("n_clicks"),
        F.countDistinct(
            F.when(F.col("error_id").isNull(), F.col("click_id"))
        ).alias("n_clean_clicks"),
        F.count("error_id").alias("n_followup_errors"),
    )


def daily_peak_concurrency(sess: DataFrame) -> DataFrame:
    """Sweep-line interval concurrency over (session_start_ns,
    session_end_ns) intervals: per day, the max number of
    simultaneously open intervals, plus how many started that day.

    +1/-1 boundary deltas are collapsed per distinct timestamp (so the
    prefix sum is total-ordered and adjacent end==start intervals net
    to zero — "touching" is not "overlapping"), then the global prefix
    sum is decomposed distributed-scan style: an intra-day running sum
    windowed by day_ns plus a per-day carry (running sum of whole-day
    totals over the tiny O(#days) frame — the sole unpartitioned
    window, ~36k rows per century) broadcast back onto the day
    partitions.  A session spanning days contributes to the
    in-between days through its carry.  Output days are those with at
    least one interval boundary."""
    deltas = sess.select(
        F.col("session_start_ns").alias("t"), F.lit(1).alias("d")
    ).unionAll(sess.select(F.col("session_end_ns").alias("t"), F.lit(-1).alias("d")))
    net = (
        deltas.groupBy("t")
        .agg(F.sum("d").cast("long").alias("net"))
        .withColumn("day_ns", F.col("t") - F.col("t") % F.lit(DAY_NS))
    )
    intra_w = (
        Window.partitionBy("day_ns")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = net.withColumn("intra", F.sum("net").over(intra_w))
    daily = net.groupBy("day_ns").agg(F.sum("net").alias("day_total"))
    # O(#days) frame: the sole unpartitioned window, by construction tiny.
    carry_w = Window.orderBy("day_ns").rowsBetween(Window.unboundedPreceding, -1)
    carry = daily.select(
        "day_ns",
        F.coalesce(F.sum("day_total").over(carry_w), F.lit(0))
        .cast("long")
        .alias("carry"),
    )
    conc = F.col("carry") + F.col("intra")
    # greatest(conc, conc - net) also scores the level BEFORE each row —
    # for a day's first row that is the carry-in, so a day whose only
    # boundary is a session END still reports the open-session level.
    peaks = (
        intra.join(F.broadcast(carry), "day_ns")
        .groupBy("day_ns")
        .agg(
            F.max(F.greatest(conc, conc - F.col("net")))
            .cast("long")
            .alias("peak_concurrency")
        )
    )
    starts = sess.groupBy(
        (
            F.col("session_start_ns") - F.col("session_start_ns") % F.lit(DAY_NS)
        ).alias("day_ns")
    ).agg(F.count(F.lit(1)).cast("long").alias("sessions_started"))
    return peaks.join(starts, "day_ns", "left").select(
        "day_ns",
        "peak_concurrency",
        F.coalesce("sessions_started", F.lit(0)).cast("long").alias("sessions_started"),
    )


@register(
    "max_concurrent_sessions",
    survey="W5,§2.10 (extension: sweep-line interval concurrency)",
    oracle=f"""
WITH o AS (
    SELECT user_id, epoch_ns(ts) AS ts,
           lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
f AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL OR ts - prev_ts > {SESSION_GAP_NS}
                THEN 1 ELSE 0 END AS is_new
    FROM o
),
s AS (
    SELECT user_id, ts,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS grp
    FROM f
),
sess AS (
    SELECT min(ts) AS start_ns, max(ts) + {SESSION_GAP_NS} AS end_ns
    FROM s GROUP BY user_id, grp
),
deltas AS (
    SELECT start_ns AS t, 1 AS d FROM sess
    UNION ALL
    SELECT end_ns AS t, -1 AS d FROM sess
),
net AS (
    SELECT t, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY t
),
run AS (
    SELECT t - t % {DAY_NS} AS day_ns, net,
           CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
    FROM net
),
peaks AS (
    -- greatest(conc, conc - net) also scores the level BEFORE each row:
    -- for a day's first row that is the carry-in, so a day whose only
    -- boundary is a session END still reports the open-session level.
    SELECT day_ns, CAST(max(greatest(conc, conc - net)) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day_ns
),
starts AS (
    SELECT start_ns - start_ns % {DAY_NS} AS day_ns,
           CAST(count(*) AS BIGINT) AS sessions_started
    FROM sess GROUP BY 1
)
SELECT p.day_ns, p.peak_concurrency,
       CAST(coalesce(s.sessions_started, 0) AS BIGINT) AS sessions_started
FROM peaks p LEFT JOIN starts s USING (day_ns)
""",
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line interval-
    concurrency aggregate (capacity planning / license auditing over
    the reference's session data, a family none of the existing
    window queries covers).

    Each 30-min-gap session (shared `session_window_rollup` semantics)
    becomes a +1 event at its start and a -1 at its end; concurrency
    at any instant is the prefix sum of those deltas in time order,
    and the answer is the per-day max of that prefix.  Collapsing
    deltas per distinct timestamp first makes the prefix sum
    total-ordered (no tie ambiguity: simultaneous end+start nets to
    zero, which equals the ends-before-starts reading that adjacent
    sessions do not overlap).

    Scale shape: a GLOBAL prefix sum would be one task, so it is
    decomposed as textbook distributed scan: (1) an intra-day running
    sum windowed BY day (shuffles on day_ns, sorts within day), plus
    (2) a per-day carry — the running sum of whole-day totals over the
    tiny O(#days) frame (the only single-partition window; ~36k rows
    per century, documented bound), broadcast back onto the day
    partitions.  Output days are those with at least one session
    boundary; a multi-day-spanning session contributes its carry to
    the days between its endpoints via (2).  All-integer output — no
    float-hygiene exposure.
    """
    from ..functions.cache import tracked_persist
    from ..streaming.jobs import session_window_rollup

    sess = tracked_persist(
        session_window_rollup(load(spark, sf_dir, "events")).select(
            "session_start_ns", "session_end_ns"
        ),
        "concurrency_sessions",
    )
    return daily_peak_concurrency(sess)


_ISLAND_LEN_NS = 900 * 1_000_000_000  # each event opens a 15-min activity interval


@register(
    "interval_islands_coverage",
    survey="W5 (extension: gaps-and-islands interval merge / coverage)",
    oracle=f"""
WITH iv AS (
    SELECT user_id, epoch_ns(ts) AS s, epoch_ns(ts) + {_ISLAND_LEN_NS} AS e
    FROM events
),
fl AS (
    SELECT user_id, s, e,
           max(e) OVER (
               PARTITION BY user_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM iv
),
grp AS (
    SELECT user_id, s, e,
           CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY s ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS island
    FROM fl
),
isl AS (
    SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
    FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_ns,
       CAST(max(i_end - i_start) AS BIGINT) AS longest_island_ns
FROM isl GROUP BY user_id
""",
)
def interval_islands_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: every event opens a 15-minute
    activity interval; overlapping/touching intervals per user are
    merged into islands and the per-user coverage is reported (island
    count, total covered time, longest island).  This is the classic
    set-union-of-intervals aggregate (uptime/SLA coverage, sensor
    on-time) that a plain groupBy cannot express — the reference's
    session windows (SURVEY §2.10) give gap-based sessions; this is
    the complementary union-length form.

    Algorithm: per user ordered by start, an interval begins a new
    island iff its start exceeds the running max of all previous ends
    (prefix max over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING); the
    running sum of those flags is the island id.  Tied starts carry
    identical (s, e) pairs (e = s + const), so frame order among ties
    cannot change any prefix max — deterministic on both engines.

    Scale shape: ONE exchange — the user-partitioned window sort; the
    island groupBy clusters on (user_id, island), a superset of the
    window's HashPartitioning(user_id), and the final per-user rollup
    likewise, so both aggregate shuffle-free.  All-integer ns output —
    no float-hygiene exposure.
    """
    iv = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.lit(_ISLAND_LEN_NS)).alias("e"),
        )
    )
    by_user = Window.partitionBy("user_id").orderBy("s")
    prev_max = F.max("e").over(by_user.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "is_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    grp = flagged.withColumn(
        "island",
        F.sum("is_new")
        .over(by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("covered_ns"),
        F.max(F.col("i_end") - F.col("i_start")).alias("longest_island_ns"),
    )


@register(
    "timeseries_gapfill_locf",
    survey="W5,F14 (extension: calendar-spine resample + LOCF forward fill)",
    oracle=f"""
WITH daily AS (
    SELECT user_id, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS day_q4
    FROM events GROUP BY 1, 2
),
span AS (
    SELECT user_id, min(day_idx) AS d0, max(day_idx) AS d1 FROM daily GROUP BY 1
),
spine AS (
    SELECT user_id, unnest(range(d0, d1 + 1)) AS day_idx FROM span
),
j AS (
    SELECT s.user_id, s.day_idx, d.day_q4
    FROM spine s LEFT JOIN daily d USING (user_id, day_idx)
)
SELECT user_id, day_idx,
       CAST(last_value(day_q4 IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day_idx ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS filled_q4,
       CAST(CASE WHEN day_q4 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_observed
FROM j
""",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine resample with last-observation-carried-forward:
    each user's daily value total (per-row quantized to 1e-4 units, so
    the sum is exact int64) is densified to EVERY day in that user's
    own [first, last] span, with missing days filled by the previous
    observed day's value — the standard time-series regularization
    step before any rolling/seasonal model.

    The Spark plan avoids the textbook spine-build + left-join +
    IGNORE NULLS window entirely (the oracle keeps that independent
    formulation): after the daily aggregate, `lead(day_idx)` gives
    each observed day its gap length, and one partition-local
    `explode(sequence(day, next_day - 1))` emits the filled rows
    carrying the observed value — LOCF by construction, no join and
    no second window.

    Scale shape: ONE exchange — `repartition(user_id)` feeds the
    (user, day) groupBy (subset-key clustering), the lead window, and
    the explode, all co-partitioned; the explode is narrow.  Fill
    volume is bounded by per-user span days (retention-window bound
    at 100 TB; a pathological single hot user is an AQE-skew case,
    not a plan change).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"ts div {DAY_NS}").alias("day_idx"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("vq"),
    )
    daily = (
        e.repartition("user_id")
        .groupBy("user_id", "day_idx")
        .agg(F.sum("vq").alias("day_q4"))
    )
    nxt = F.lead("day_idx").over(
        Window.partitionBy("user_id").orderBy("day_idx")
    )
    filled = daily.withColumn("next_day", nxt).select(
        "user_id",
        "day_idx",
        "day_q4",
        F.explode(
            F.sequence(
                F.col("day_idx"),
                F.coalesce(F.col("next_day") - 1, F.col("day_idx")),
            )
        ).alias("fill_day"),
    )
    return filled.select(
        "user_id",
        F.col("fill_day").alias("day_idx"),
        F.col("day_q4").alias("filled_q4"),
        (F.col("fill_day") == F.col("day_idx")).cast("long").alias("is_observed"),
    )


@register(
    "dow_seasonality_profile",
    survey="A1,W5 (extension: day-of-week seasonality profile)",
    oracle=f"""
WITH q AS (
    SELECT event_type,
           (epoch_ns(ts) // {DAY_NS} + 3) % 7 AS dow,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vq
    FROM events
),
agg AS (
    SELECT event_type, dow,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(vq) AS BIGINT) AS sum_q4
    FROM q GROUP BY 1, 2
),
tot AS (
    SELECT event_type, dow, n_events, sum_q4,
           CAST(sum(sum_q4) OVER (PARTITION BY event_type) AS BIGINT) AS type_total
    FROM agg
)
SELECT event_type, dow, n_events, sum_q4,
       floor(CAST(sum_q4 AS DOUBLE) / CAST(n_events AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS mean_q4,
       floor(CAST(sum_q4 AS DOUBLE) / CAST(type_total AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS weekly_share
FROM tot
""",
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: per event type, the distribution of
    activity value across the 7 weekdays (0 = Monday via pure
    epoch-day modular arithmetic — no calendar function, no session
    timezone) — the first step of any seasonal-naive forecast or
    staffing model, and the seasonality complement to the EWMA/CUSUM
    trend family.

    Per-row 1e-4 quantization makes sums exact int64; the mean and
    the share-of-weekly-total are single IEEE divisions through the
    round_stable formula.  Scale shape: one map-side-combinable
    groupBy on (type, dow) — 7×#types output rows — plus one window
    over that tiny aggregate grain.
    """
    from ..functions.core import round_stable

    q = load(spark, sf_dir, "events", fan_out=True).select(
        "event_type",
        ((F.expr(f"ts div {DAY_NS}") + 3) % 7).alias("dow"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("vq"),
    )
    agg = q.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vq").alias("sum_q4"),
    )
    tot = agg.withColumn(
        "type_total",
        F.sum("sum_q4").over(Window.partitionBy("event_type")),
    )
    return tot.select(
        "event_type",
        "dow",
        "n_events",
        "sum_q4",
        round_stable(
            F.col("sum_q4").cast("double") / F.col("n_events").cast("double"), 6
        ).alias("mean_q4"),
        round_stable(
            F.col("sum_q4").cast("double") / F.col("type_total").cast("double"),
            6,
        ).alias("weekly_share"),
    )


_DRAIN_CENTS = 3_400  # constant per-event drain for the balance walks
_BALANCE_CAP_CENTS = 20_000  # two-sided walk: ceiling
_BALANCE_OUT_SCHEMA = "user_id long, event_id long, balance_cents long"


def _balance_deltas(events: DataFrame) -> DataFrame:
    """(user_id, event_id, ts_ns, delta): each event's deposit in
    whole cents less the constant drain — the input of every balance
    walk, batch or streaming."""
    return events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("ts_ns"),
        (
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            - F.lit(_DRAIN_CENTS)
        ).alias("delta"),
    )


def _clamp_walk(pdf, bal: int = 0, cap: int = _BALANCE_CAP_CENTS):
    """Walk one user's deltas in (ts_ns, event_id) order from balance
    `bal`, clamping to [0, cap] after each event.  Returns the
    (user_id, event_id, balance_cents) rows and the last balance, so a
    stream can carry it into the user's next micro-batch."""
    pdf = pdf.sort_values(["ts_ns", "event_id"], kind="mergesort")
    out = []
    for d in pdf["delta"].to_numpy():
        bal = min(cap, max(0, bal + int(d)))
        out.append(bal)
    return pdf[["user_id", "event_id"]].assign(balance_cents=out), int(bal)


@register(
    "capped_running_balance",
    bench=True,
    survey="W5 (extension: floor-clamped running balance via Lindley closed form)",
    oracle=f"""
WITH d AS (
    SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
           CAST(floor(value * 100 + 0.5) AS BIGINT) - {_DRAIN_CENTS} AS delta
    FROM events
),
pf AS (
    SELECT user_id, event_id, ts_ns,
           CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx
    FROM d
),
p AS (
    SELECT user_id, event_id, pfx,
           CAST(min(pfx) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin
    FROM pf
)
SELECT user_id, event_id,
       CAST(pfx - least(0, runmin) AS BIGINT) AS balance_cents
FROM p
""",
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance floored at zero (inventory on hand, queue
    depth, prepaid credit): each event deposits its cents value and
    drains a constant, and the balance can never go negative — the
    Lindley recursion W_k = max(0, W_{{k-1}} + d_k) that naive SQL
    can't write because each row depends on the previous OUTPUT.

    Solved in closed form instead of a stateful scan:
    W_k = prefix_k − min(0, min_{{j≤k}} prefix_j) (the queueing-theory
    identity; pinned against a sequential python replay in
    tests/test_cross_query_invariants.py).  That turns the "inherently
    sequential" operator into two frames over ONE user-partitioned
    window sort — fully distributed, exact int64, with a
    (ts, event_id) total order so ties are deterministic.

    Scale shape: one exchange (user partitioning), two running frames
    in a single WindowExec.  The two-sided cap (floor AND ceiling)
    has no such closed form — that variant is the stateful
    `bounded_running_balance_stateful` twin.
    """
    d = _balance_deltas(load(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.withColumn("pfx", F.sum("delta").over(w)).withColumn(
        "runmin", F.min("pfx").over(w)
    )
    return p.select(
        "user_id",
        "event_id",
        (F.col("pfx") - F.least(F.lit(0), F.col("runmin")))
        .cast("long")
        .alias("balance_cents"),
    )


@register(
    "autocorr_daily_values",
    survey="A18,W5 (extension: lag-1 autocorrelation of daily series)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dq
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type, a.dq AS x, b.dq AS y
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND b.day_idx = a.day_idx + 1
),
s AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pairs GROUP BY 1
)
SELECT event_type, n AS n_pairs,
       CAST(n * sxy - sx * sy AS BIGINT) AS r_num,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS autocorr_lag1
FROM s
""",
)
def autocorr_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily value series —
    the is-today-predicted-by-yesterday diagnostic that sits between
    the seasonality profile (dow_seasonality_profile) and the
    EWMA/CUSUM trend family.

    Calendar alignment is an equi-join on day_idx+1 (only
    consecutive observed days pair — no spine needed), every moment
    (Σx, Σy, Σx², Σy², Σxy) is an exact int64 sum of quantized cents,
    and Pearson's r is ONE fixed-order double expression over those
    exact moments (sqrt is IEEE-correctly-rounded, hence
    engine-identical) through round_stable(6) with variance-zero
    guards.  Exact r_num is emitted alongside the display value.

    Scale shape: map-side-combinable daily aggregate, a self
    equi-join on the tiny (type, day) grain, one moments groupBy.
    """
    from ..functions.core import exact_pearson

    daily = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy(
            "event_type", F.expr(f"ts div {DAY_NS}").alias("day_idx")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("dq")
        )
    )
    b = daily.select(
        F.col("event_type").alias("bt"),
        (F.col("day_idx") - 1).alias("b_prev_day"),
        F.col("dq").alias("y"),
    )
    pairs = daily.join(
        b,
        (F.col("event_type") == F.col("bt"))
        & (F.col("day_idx") == F.col("b_prev_day")),
    ).select("event_type", F.col("dq").alias("x"), "y")
    return exact_pearson(pairs, "event_type", "x", "y", "n_pairs", "autocorr_lag1")


@register(
    "bounded_running_balance_stateful",
    survey="W5,§2.11 (extension: two-sided clamped scan — genuinely stateful, applyInPandas)",
    oracle=f"""
WITH RECURSIVE ev AS (
    SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
           CAST(floor(value * 100 + 0.5) AS BIGINT) - {_DRAIN_CENTS} AS delta
    FROM events
),
seq AS (
    SELECT user_id,
           list(delta ORDER BY ts_ns, event_id) AS ds,
           list(event_id ORDER BY ts_ns, event_id) AS eids
    FROM ev GROUP BY user_id
),
walk AS (
    SELECT user_id, 1 AS i,
           greatest(0, least({_BALANCE_CAP_CENTS}, ds[1])) AS bal
    FROM seq
    UNION ALL
    SELECT w.user_id, w.i + 1,
           greatest(0, least({_BALANCE_CAP_CENTS}, w.bal + s.ds[w.i + 1]))
    FROM walk w JOIN seq s ON w.user_id = s.user_id
    WHERE w.i < len(s.ds)
)
SELECT s.user_id, s.eids[w.i] AS event_id, CAST(w.bal AS BIGINT) AS balance_cents
FROM walk w JOIN seq s ON w.user_id = s.user_id
""",
)
def bounded_running_balance_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance clamped to [0, cap] — the TWO-SIDED version of
    `capped_running_balance`.  Unlike the floor-only walk, the
    two-sided recursion W_k = clamp(W_{k-1} + d_k, 0, cap) has NO
    prefix-sum closed form (each clamp destroys the translation
    structure both ways), so this is the registry's canonical
    "genuinely sequential per key" operator: an Arrow-batched
    `applyInPandas` walk per user, deterministic under the
    (ts, event_id) total order.  As of r7 it is fully ORACLE-checked:
    the DuckDB twin replays the identical clamp recursion with a
    WITH RECURSIVE walk over each user's (ts, event_id)-ordered delta
    list — exact cents in, exact cents out, no float analysis — on
    top of the earlier python-replay and cap→∞ degeneration pins
    (with the ceiling above any reachable balance it must equal the
    closed-form window query EXACTLY — both in tests).

    Scale shape: one exchange (groupBy user), state is O(1) per key,
    batch transfer is Arrow; per-user row counts bound task memory
    (a pathological hot user is a repartition/AQE concern, not a
    correctness one).  The INCREMENTAL form of this same walk runs as
    a stateful stream (streaming/jobs.py::running_balance_stream —
    the same delta projection and `_clamp_walk` kernel, with the
    carried int state fully summarizing the clamp recursion;
    stream == batch pinned by a 3-micro-batch drain test).
    """

    def walk(pdf):
        return _clamp_walk(pdf)[0]

    return (
        _balance_deltas(load(spark, sf_dir, "events"))
        .groupBy("user_id")
        .applyInPandas(walk, schema=_BALANCE_OUT_SCHEMA)
    )


@register(
    "rolling_active_users",
    bench=True,
    survey="A15,W5 (extension: rolling 7-day distinct actives)",
    oracle=f"""
WITH du AS (
    SELECT DISTINCT epoch_ns(ts) // {DAY_NS} AS day_idx, user_id FROM events
),
contrib AS (
    SELECT day_idx + o.o AS window_day, user_id
    FROM du, (SELECT unnest(range(0, 7)) AS o) o
),
days AS (SELECT DISTINCT day_idx FROM du)
SELECT c.window_day,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active_7d
FROM contrib c JOIN days d ON d.day_idx = c.window_day
GROUP BY 1
""",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (the WAU curve): for each
    OBSERVED day, the count of distinct users active in the trailing
    7-day window.  Distinct-over-a-sliding-window has no window-
    function form (distincts don't add), so it is expressed exactly:
    dedup to the (day, user) activity grain first, explode each
    activity to the 7 window-end days it reaches, and count distinct
    per window day — the 7× expansion happens on the ALREADY-deduped
    day-user grain, never on raw events.  Trailing windows ending on
    non-observed days are suppressed by a semi-join with the observed
    day set.  All-integer output; epoch-day arithmetic (tz-free).

    Scale twin: `rolling_active_users_hll` answers the same question
    from mergeable per-day sketches without re-touching the activity
    grain.

    r13 shape (guide §2.3 — shuffle fewer bytes): the former plan
    exploded every (day, user) activity ×7 and count-distinct-ed the
    expansion.  A user counts toward window w iff w lies in the union
    of that user's [day, day+6] intervals, so the per-window distinct
    count is a sweep-line: merge each user's active days into runs
    (a gap > 6 days starts a new run — fixed-length interval union,
    the `cross_doc_dup_spans` closed form), emit +1 at each run start
    and −1 one past each run end, sum deltas per day, and prefix-sum
    over the day axis.  Exchanges carry one delta pair per run
    boundary instead of 7 rows per activity, and no distinct
    aggregation remains; the final cumsum is a single-partition window
    over the tiny per-day delta frame (days, not events).  Pure
    integer arithmetic — result-identical to the explode form.
    """
    from ..functions.cache import tracked_persist

    du = tracked_persist(
        load(spark, sf_dir, "events", fan_out=True)
        .selectExpr(f"ts div {DAY_NS} AS day_idx", "user_id")
        .repartition("user_id")
        .distinct(),
        "rolling_active_users.day_user",
    )
    days = du.select("day_idx").distinct()
    # single-parse build (r13, guide §5/§7.3) — identical run/delta/
    # cumsum arithmetic as the former Column chains
    wu = "OVER (PARTITION BY user_id ORDER BY day_idx ASC)"
    runs = du.selectExpr(
        "user_id",
        "day_idx",
        f"(day_idx - lag(day_idx) {wu}) > 6 AS starts",
        f"(lead(day_idx) {wu} - day_idx) > 6 AS ends",
    )
    deltas = (
        runs.filter("coalesce(starts, true)")
        .selectExpr("day_idx AS d", "1 AS delta")
        .unionAll(
            runs.filter("coalesce(ends, true)").selectExpr(
                "day_idx + 7 AS d", "-1 AS delta"
            )
        )
        # zero-delta seed rows: the cumsum must be EVALUATED at every
        # observed day, including mid-run days that are no run boundary
        .unionAll(days.selectExpr("day_idx AS d", "0 AS delta"))
    )
    active = (
        deltas.groupBy("d")
        .agg(F.expr("sum(delta)").alias("net"))
        .selectExpr(
            "d AS window_day",
            "CAST(sum(net) OVER (ORDER BY d ASC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS BIGINT) AS n_active_7d",
        )
    )
    return active.join(
        days.selectExpr("day_idx AS window_day"), "window_day", "left_semi"
    )


@register(
    "rolling_active_users_hll",
    survey="A16,W5 (extension: rolling actives from merged daily HLL sketches)",
    # rows-only: Datasketches HLL binaries are engine-specific; the
    # estimate-vs-exact error bound is pinned against
    # rolling_active_users in tests/test_cross_query_invariants.py
)
def rolling_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for `rolling_active_users`: build ONE HLL
    sketch of distinct users PER DAY (a metrics store would persist
    exactly this), then answer every trailing-7-day window by
    UNIONING seven stored sketches — no second pass over the activity
    grain, and the same daily sketches serve 7-day, 28-day, and
    quarter windows alike.  This is the re-aggregation property
    countDistinct lacks (distincts don't add; sketches do)."""
    ev = load(spark, sf_dir, "events", fan_out=True)
    daily = ev.groupBy(F.expr(f"ts div {DAY_NS}").alias("day_idx")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    days = daily.select("day_idx").withColumnRenamed("day_idx", "window_day")
    contrib = daily.select(
        "day_idx",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "sk",
    ).select((F.col("day_idx") + F.col("o")).alias("window_day"), "sk")
    return (
        contrib.join(days, "window_day", "left_semi")
        .groupBy("window_day")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("bigint")
            .alias("est_active_7d")
        )
    )


@register(
    "xcorr_click_purchase",
    survey="A18,W5 (extension: lead/lag cross-correlation scan)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dq
    FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
),
a AS (SELECT day_idx, dq AS x FROM daily WHERE event_type = 'click'),
b AS (SELECT day_idx, dq AS y FROM daily WHERE event_type = 'purchase'),
pairs AS (
    SELECT l.k AS lag, a.x, b.y
    FROM a, (SELECT unnest(range(-3, 4)) AS k) l
    JOIN b ON b.day_idx = a.day_idx + l.k
),
s AS (
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pairs GROUP BY 1
)
SELECT lag, n AS n_pairs,
       CAST(n * sxy - sx * sy AS BIGINT) AS r_num,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS xcorr
FROM s
""",
)
def xcorr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation scan between the click and purchase daily
    value series at lags −3..+3 days — "do clicks lead purchases, and
    by how many days?", the attribution-lag diagnostic that
    generalizes `autocorr_daily_values` to two series.  Positive lag
    correlates today's clicks with purchases k days LATER.

    Same exactness contract as autocorr: every moment is an exact
    int64 sum of quantized cents over calendar-aligned pairs (an
    equi-join on day+k per exploded lag), and Pearson's r is one
    fixed-order guarded double through round_stable(6), with the
    exact integer numerator emitted alongside.

    Scale shape: the fact aggregate is the work; the 7-lag explode
    and joins ride the tiny (type, day) grain.
    """
    from ..functions.core import exact_pearson

    daily = (
        load(spark, sf_dir, "events", fan_out=True)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            "event_type", F.expr(f"ts div {DAY_NS}").alias("day_idx")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("dq")
        )
    )
    a = daily.filter(F.col("event_type") == "click").select(
        "day_idx", F.col("dq").alias("x")
    )
    b = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day_idx").alias("b_day"), F.col("dq").alias("y")
    )
    al = a.select(
        "day_idx",
        "x",
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag"),
    )
    pairs = al.join(
        b, F.col("b_day") == F.col("day_idx") + F.col("lag")
    ).select("lag", "x", "y")
    return exact_pearson(pairs, "lag", "x", "y", "n_pairs", "xcorr")


_HOLT_A = 0.3  # level smoothing
_HOLT_B = 0.1  # trend smoothing
_HOLT_AB = _HOLT_A * _HOLT_B  # expanded-form trend coefficient


@register(
    "holt_trend_forecast",
    survey="W5 (extension: Holt double-exponential smoothing fold)",
    oracle=f"""
WITH g AS (
    SELECT user_id,
           list_sort(list({{'ts': epoch_ns(ts), 'event_id': event_id,
                            'value': value}})) AS items
    FROM events
    GROUP BY user_id
),
f AS (
    SELECT user_id, CAST(len(items) AS BIGINT) AS n_events,
           -- accumulator is a DOUBLE[2] list [level, trend]: DuckDB
           -- 1.0 mis-evaluates STRUCT-typed reduce accumulators
           -- (fields leak already-updated values), list literals
           -- fold correctly.
           list_reduce(
               list_transform(items, x -> [x.value, CAST(0.0 AS DOUBLE)]),
               (acc, x) -> [
                   CAST({_HOLT_A} AS DOUBLE) * x[1]
                       + CAST({1 - _HOLT_A} AS DOUBLE) * (acc[1] + acc[2]),
                   CAST({_HOLT_AB} AS DOUBLE) * x[1]
                       - CAST({_HOLT_AB} AS DOUBLE) * acc[1]
                       + CAST({1 - _HOLT_AB} AS DOUBLE) * acc[2]
               ]
           ) AS st
    FROM g
)
SELECT user_id, n_events,
       floor(st[1] * 1e6 + 0.5) / 1e6 AS level,
       floor(st[2] * 1e6 + 0.5) / 1e6 AS trend,
       floor((st[1] + st[2]) * 1e6 + 0.5) / 1e6 AS forecast_1
FROM f
""",
)
def holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing per user (level alpha=0.3,
    trend beta=0.1) with the 1-step-ahead forecast — the trend-aware
    upgrade of `ewma_user_values`, i.e. the simplest real forecasting
    primitive (capacity planning, next-period spend).

    Same native higher-order fold contract as EWMA, extended to a
    TWO-component state, with both updates in the expanded linear
    form (level' = a*x + (1-a)(l+b); trend' = ab*x - ab*l +
    (1-ab)*b) so each engine performs the IDENTICAL IEEE operation
    sequence — bit-identical doubles before the fixed-point floor.
    Init: level = first value, trend = 0.  Engine note: the DuckDB
    side folds a DOUBLE[2] list accumulator because DuckDB 1.0
    mis-evaluates STRUCT-typed reduce accumulators (later struct
    fields observe already-updated earlier fields — probed in
    tests).

    Scale shape: one groupBy shuffle on user_id; per-key state is the
    ordered value array (the same bound the streaming state store
    carries); no Python, no per-row window re-scan.
    """
    ev = load(spark, sf_dir, "events")
    items = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value")))
    )
    g = ev.groupBy("user_id").agg(items.alias("items"))
    sts = F.transform(
        F.col("items"),
        lambda x: F.struct(
            x["value"].alias("l"), F.lit(0.0).cast("double").alias("b")
        ),
    )
    a, ia = F.lit(_HOLT_A), F.lit(1 - _HOLT_A)
    ab, iab = F.lit(_HOLT_AB), F.lit(1 - _HOLT_AB)

    def step(acc, x):
        # Same IEEE sequence as the oracle: level from (old l + old b),
        # trend in the expanded linear form ab*x - ab*l + (1-ab)*b.
        l_new = a * x["l"] + ia * (acc["l"] + acc["b"])
        b_new = ab * x["l"] - ab * acc["l"] + iab * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    fold = F.aggregate(
        F.slice(sts, 2, F.size(sts) - 1), F.element_at(sts, 1), step
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return g.select(
        "user_id",
        F.size("items").cast("bigint").alias("n_events"),
        r6(fold["l"]).alias("level"),
        r6(fold["b"]).alias("trend"),
        r6(fold["l"] + fold["b"]).alias("forecast_1"),
    )


@register(
    "daily_burst_zscores",
    survey="W5,A10 (extension: trailing-window burst z-scores)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type, day_idx, n,
           CAST(count(*) OVER tw AS BIGINT) AS w_n,
           CAST(sum(n) OVER tw AS BIGINT) AS w_s1,
           CAST(sum(n * n) OVER tw AS BIGINT) AS w_s2
    FROM daily
    WINDOW tw AS (PARTITION BY event_type ORDER BY day_idx
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day_idx, n, w_n,
       CASE WHEN w_n >= 3 AND w_n * w_s2 - w_s1 * w_s1 > 0
            THEN floor((CAST(w_n AS DOUBLE) * CAST(n AS DOUBLE)
                        - CAST(w_s1 AS DOUBLE))
                       / sqrt(CAST(w_n AS DOUBLE)
                              * CAST(w_n * w_s2 - w_s1 * w_s1 AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS burst_z
FROM w
""",
)
def daily_burst_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: each (event type, day)'s count scored against
    its OWN trailing 7-day baseline as a z-score — the anomaly flag
    that catches "today is 4 sigma above last week" without any
    global statistics (the trailing frame makes it streaming-shaped
    and drift-immune, unlike the global-MAD family).

    z = (n − mean)/std over the ROWS 7 PRECEDING..1 PRECEDING frame,
    computed from exact int64 frame moments (count, Σn, Σn²) as ONE
    fixed-order double expression — algebraically
    (w·n − S1)/sqrt(w·(w·S2 − S1²)) so no intermediate mean/variance
    double ever feeds another aggregate — with degenerate-frame
    guards (fewer than 3 baseline days, zero variance).

    Scale shape: map-side-combinable daily aggregate, then one
    type-partitioned window with three aggregates sharing the same
    frame — a single WindowExec.
    """
    from ..functions.core import round_stable

    daily = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy(
            "event_type", F.expr(f"ts div {DAY_NS}").alias("day_idx")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-7, -1)
    )
    w = (
        daily.withColumn("w_n", F.count(F.lit(1)).over(tw))
        .withColumn("w_s1", F.sum("n").over(tw))
        .withColumn("w_s2", F.sum(F.col("n") * F.col("n")).over(tw))
    )
    wn, s1, s2, n = (F.col(k) for k in ("w_n", "w_s1", "w_s2", "n"))
    varn = (wn * s2 - s1 * s1).cast("long")
    z = F.when(
        (wn >= 3) & (varn > 0),
        round_stable(
            (wn.cast("double") * n.cast("double") - s1.cast("double"))
            / F.sqrt(wn.cast("double") * varn.cast("double")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return w.select(
        "event_type",
        "day_idx",
        "n",
        F.col("w_n").cast("long").alias("w_n"),
        z.alias("burst_z"),
    )


def _click_purchase_gap_fn(key, clicks_pdf, purchases_pdf):
    """Per-user cogrouped kernel: for each purchase, the gap to the
    most recent STRICTLY-prior click; emits one row per user with a
    rank-select lower median (engine-exact, no interpolation)."""
    import numpy as np
    import pandas as pd

    n_p = len(purchases_pdf)
    if n_p == 0:
        return pd.DataFrame(
            columns=["user_id", "n_purchases", "n_with_prior_click", "median_gap_ns"]
        )
    ct = np.sort(clicks_pdf["ts"].to_numpy()) if len(clicks_pdf) else np.array([])
    gaps = []
    for t in purchases_pdf["ts"].to_numpy():
        i = int(np.searchsorted(ct, t, side="left"))
        if i > 0:
            gaps.append(int(t) - int(ct[i - 1]))
    m = len(gaps)
    med = sorted(gaps)[(m + 1) // 2 - 1] if m else 0
    return pd.DataFrame(
        [[key[0], n_p, m, med]],
        columns=["user_id", "n_purchases", "n_with_prior_click", "median_gap_ns"],
    )


@register(
    "cogroup_click_purchase_gap",
    survey="§2.11,J8 (extension: cogrouped applyInPandas as-of kernel)",
    oracle="""
WITH c AS (
    SELECT user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id, event_id, epoch_ns(ts) AS t
    FROM events WHERE event_type = 'purchase'
),
g AS (
    SELECT p.user_id, p.event_id, p.t, max(c.t) AS last_click
    FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.t < p.t
    GROUP BY 1, 2, 3
),
gaps AS (
    SELECT user_id, event_id, t - last_click AS gap
    FROM g WHERE last_click IS NOT NULL
),
agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS m FROM gaps GROUP BY 1),
np_ AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases FROM p GROUP BY 1),
rk AS (
    SELECT user_id, gap,
           row_number() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS rn
    FROM gaps
),
med AS (
    SELECT rk.user_id, rk.gap AS median_gap_ns
    FROM rk JOIN agg ON rk.user_id = agg.user_id
    WHERE rk.rn = (agg.m + 1) // 2
)
SELECT np_.user_id, np_.n_purchases,
       CAST(coalesce(agg.m, 0) AS BIGINT) AS n_with_prior_click,
       CAST(coalesce(med.median_gap_ns, 0) AS BIGINT) AS median_gap_ns
FROM np_
LEFT JOIN agg ON np_.user_id = agg.user_id
LEFT JOIN med ON np_.user_id = med.user_id
""",
)
def cogroup_click_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median click→purchase latency per user via
    `cogroup().applyInPandas` — the two-sided grouped-map surface
    (§2.11) the UDF inventory lacked: clicks and purchases arrive as
    SEPARATE aligned pandas frames per user, and the kernel runs a
    vectorized searchsorted as-of match (most recent strictly-prior
    click per purchase) plus a rank-select lower median — no
    interpolation, so the int64-ns output is engine-exact against
    the relational oracle (prior-click max + row_number median).

    Scale shape: one co-partitioned shuffle on user_id for both
    sides, Arrow batch transfer, O(log n) per purchase in the
    kernel.  The same semantics exist join-side as `asof_join_events`
    — this entry pins the cogroup API against that relational
    formulation.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            _click_purchase_gap_fn,
            schema="user_id long, n_purchases long, "
            "n_with_prior_click long, median_gap_ns long",
        )
    )


_KM_CENSOR_DAYS = 7  # active within the last N days => censored (not churned)

# DuckDB twin of `_km_curve`, read from a user-grain CTE `u (dur, censored)`.
_KM_TAIL_SQL = """g AS (
    SELECT dur,
           CAST(sum(1 - censored) AS BIGINT) AS d,
           CAST(sum(censored) AS BIGINT) AS c
    FROM u GROUP BY dur
),
rk AS (
    SELECT dur, d, c,
           CAST(sum(d + c) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_at_risk
    FROM g
),
fct AS (
    SELECT dur, d, c, n_at_risk,
           (CAST(n_at_risk AS DOUBLE) - CAST(d AS DOUBLE))
               / CAST(n_at_risk AS DOUBLE) AS factor
    FROM rk
),
surv AS (
    SELECT dur, d, c, n_at_risk,
           list(factor) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS fs
    FROM fct
),
km AS (
    SELECT dur, d, c, n_at_risk,
           floor(list_reduce(fs, (a, b) -> a * b) * 1000000 + 0.5) / 1000000
               AS survival
    FROM surv
)
"""


def _km_curve(u: DataFrame) -> DataFrame:
    """Kaplan-Meier curve of a user grain (dur, censored): per duration
    `d` events, `c` censorings, `n_at_risk` and `survival` S(t).

    Numerics: at-risk counts are EXACT int64 reverse-cumulative sums
    over the duration grain; each step factor (n−d)/n is one IEEE
    division, and S(t) is the prefix product computed as the same
    left fold over the same ordered factor list on both engines
    (windowed collect + multiply-reduce — bit-identical doubles
    before round_stable(6), the EWMA/Holt fold contract).

    Scale shape: everything rides the DURATION grain — bounded by the
    observation span in days (the month-lag precedent class), where
    two windows and the fold are O(span²) worst-case on a few hundred
    rows."""
    g = u.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    rev = (
        Window.orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.orderBy(F.asc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = g.withColumn("n_at_risk", F.sum(F.col("d") + F.col("c")).over(rev))
    fct = rk.withColumn(
        "factor",
        (F.col("n_at_risk").cast("double") - F.col("d").cast("double"))
        / F.col("n_at_risk").cast("double"),
    )
    surv = fct.withColumn("fs", F.collect_list("factor").over(fwd))
    prod = F.aggregate(
        F.slice(F.col("fs"), 2, F.size("fs") - 1),
        F.element_at(F.col("fs"), 1),
        lambda a, b: a * b,
    )
    return surv.select(
        "dur",
        "d",
        "c",
        "n_at_risk",
        (F.floor(prod * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("survival"),
    )


@register(
    "kaplan_meier_churn",
    survey="M14-adjacent,W5 (extension: Kaplan-Meier survival with censoring)",
    oracle=f"""
WITH span AS (
    SELECT user_id,
           min(epoch_ns(ts) // {DAY_NS}) AS d0,
           max(epoch_ns(ts) // {DAY_NS}) AS d1
    FROM events GROUP BY user_id
),
mx AS (SELECT max(d1) AS dmax FROM span),
u AS (
    SELECT user_id, d1 - d0 AS dur,
           CASE WHEN d1 >= (SELECT dmax FROM mx) - {_KM_CENSOR_DAYS}
                THEN 1 ELSE 0 END AS censored
    FROM span
),
{_KM_TAIL_SQL}SELECT dur AS duration_days, d AS n_churned, c AS n_censored, n_at_risk,
       survival
FROM km
""",
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between
    first and last activity), right-censoring users still active in
    the final week — survival analysis, the retention family's
    statistically honest form: censored users leave the at-risk pool
    without counting as churn, which a naive retention ratio gets
    wrong.

    Scale shape: one user-grain aggregate over the fact (the work),
    a broadcast scalar max, then `_km_curve` on the duration grain.
    """
    span = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy("user_id")
        .agg(
            F.min(F.expr(f"ts div {DAY_NS}")).alias("d0"),
            F.max(F.expr(f"ts div {DAY_NS}")).alias("d1"),
        )
    )
    mx = span.agg(F.max("d1").alias("dmax"))
    u = span.crossJoin(F.broadcast(mx)).select(
        (F.col("d1") - F.col("d0")).alias("dur"),
        (F.col("d1") >= F.col("dmax") - _KM_CENSOR_DAYS)
        .cast("long")
        .alias("censored"),
    )
    return _km_curve(u).select(
        F.col("dur").alias("duration_days"),
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        "n_at_risk",
        "survival",
    )


@register(
    "new_vs_returning_daily",
    survey="A1,W5 (extension: daily new-vs-returning user split)",
    oracle=f"""
WITH du AS (
    SELECT DISTINCT epoch_ns(ts) // {DAY_NS} AS day_idx, user_id FROM events
),
fs AS (
    SELECT user_id, min(day_idx) AS first_day FROM du GROUP BY 1
)
SELECT du.day_idx,
       CAST(sum(CASE WHEN du.day_idx = fs.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN du.day_idx > fs.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM du JOIN fs ON du.user_id = fs.user_id
GROUP BY 1
""",
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever-seen today) vs
    returning — the activation-vs-retention headline every growth
    dashboard opens with.  The first-seen day comes from the same
    deduped (day, user) grain the rolling-actives family persists;
    the classifying join is user-keyed (co-partitioned with the
    grain's own shuffle).  All-integer output, epoch-day arithmetic.
    """
    from ..functions.cache import tracked_persist

    du = tracked_persist(
        load(spark, sf_dir, "events", fan_out=True)
        .select(F.expr(f"ts div {DAY_NS}").alias("day_idx"), "user_id")
        .distinct(),
        "new_vs_returning.day_user",
    )
    fs = du.groupBy("user_id").agg(F.min("day_idx").alias("first_day"))
    return (
        du.join(fs, "user_id")
        .groupBy("day_idx")
        .agg(
            F.sum(
                (F.col("day_idx") == F.col("first_day")).cast("long")
            ).alias("new_users"),
            F.sum(
                (F.col("day_idx") > F.col("first_day")).cast("long")
            ).alias("returning_users"),
        )
    )


@register(
    "cohort_ltv_curve",
    survey="A2,W5 (extension: cohort cumulative-value (LTV) curve)",
    oracle=f"""
WITH e AS (
    SELECT user_id, epoch_ns(ts) // {WEEK_NS} AS week_idx,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vq
    FROM events
),
fw AS (
    SELECT user_id, min(week_idx) AS cohort_week FROM e GROUP BY 1
),
sz AS (
    SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
    FROM fw GROUP BY 1
),
per AS (
    SELECT fw.cohort_week, e.week_idx - fw.cohort_week AS week_offset,
           CAST(sum(e.vq) AS BIGINT) AS period_q4
    FROM e JOIN fw ON e.user_id = fw.user_id
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_week, week_offset, period_q4,
           CAST(sum(period_q4) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_q4
    FROM per
)
SELECT c.cohort_week, c.week_offset, s.cohort_users, c.period_q4, c.cum_q4
FROM cum c JOIN sz s ON c.cohort_week = s.cohort_week
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-activity
    week, each cohort's total quantized value accumulated across the
    weeks since acquisition — the value-flavored counterpart of
    `cohort_retention` (which counts presence; this sums spend), and
    the curve LTV payback models are fit on.

    Exact int64 quantized sums at the (cohort, offset) grain, one
    cohort-partitioned running sum, and a broadcast cohort-size join.
    Scale shape: the user-grain first-week aggregate and the
    user-keyed classify join carry the weight; everything after
    rides the tiny cohort×offset grain.
    """
    e = load(spark, sf_dir, "events", fan_out=True).select(
        "user_id",
        F.expr(f"ts div {WEEK_NS}").alias("week_idx"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("vq"),
    )
    fw = e.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    sz = fw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    per = (
        e.join(fw, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.sum("vq").alias("period_q4"))
    )
    run = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.withColumn("cum_q4", F.sum("period_q4").over(run))
    return cum.join(F.broadcast(sz), "cohort_week").select(
        "cohort_week", "week_offset", "cohort_users", "period_q4", "cum_q4"
    )


@register(
    "stickiness_dau_mau",
    survey="A15,W5 (extension: DAU/MAU stickiness ratio)",
    oracle=f"""
WITH du AS (
    SELECT DISTINCT epoch_ns(ts) // {DAY_NS} AS day_idx, user_id FROM events
),
days AS (SELECT DISTINCT day_idx FROM du),
dau AS (
    SELECT day_idx, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1
),
mau AS (
    SELECT d.day_idx, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
    FROM days d JOIN du u
      ON u.day_idx BETWEEN d.day_idx - 27 AND d.day_idx
    GROUP BY 1
)
SELECT dau.day_idx, dau.dau, mau.mau,
       floor(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS stickiness
FROM dau JOIN mau ON dau.day_idx = mau.day_idx
""",
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day stickiness (DAU / trailing-28-day MAU) — the
    engagement-quality ratio product dashboards track beside the WAU
    curve.  MAU reuses the rolling-actives contract: each deduped
    (day, user) activity is exploded to the 28 window-end days it
    reaches (expansion on the deduped grain, never raw events),
    suppressed to observed days, counted distinct; DAU is the plain
    day grain; the ratio is one guarded round_stable division over
    exact counts.
    """
    from ..functions.cache import tracked_persist

    du = tracked_persist(
        load(spark, sf_dir, "events", fan_out=True)
        .select(F.expr(f"ts div {DAY_NS}").alias("day_idx"), "user_id")
        .distinct(),
        "stickiness.day_user",
    )
    days = du.select("day_idx").distinct()
    dau = du.groupBy("day_idx").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        "day_idx",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("o"),
        "user_id",
    ).select((F.col("day_idx") + F.col("o")).alias("window_day"), "user_id")
    mau = (
        contrib.join(
            days.withColumnRenamed("day_idx", "window_day"),
            "window_day",
            "left_semi",
        )
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    from ..functions.core import round_stable

    return (
        dau.join(mau, dau.day_idx == mau.window_day)
        .select(
            "day_idx",
            "dau",
            F.col("mau").cast("long").alias("mau"),
            round_stable(
                F.col("dau").cast("double") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


_ATTR_WINDOW_NS = 7 * DAY_NS  # attribution lookback


@register(
    "position_attribution_credits",
    survey="J8,W5 (extension: position-based multi-touch attribution)",
    oracle=f"""
WITH p AS (
    SELECT user_id, event_id AS conv_id, epoch_ns(ts) AS pt
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT user_id, event_id AS touch_id, event_type, epoch_ns(ts) AS tt
    FROM events WHERE event_type IN ('click', 'view')
),
j AS (
    SELECT p.conv_id, t.touch_id, t.event_type, t.tt
    FROM p JOIN t ON p.user_id = t.user_id
     AND t.tt < p.pt AND t.tt >= p.pt - {_ATTR_WINDOW_NS}
),
rk AS (
    SELECT conv_id, touch_id, event_type,
           CAST(row_number() OVER (PARTITION BY conv_id
                                   ORDER BY tt, touch_id) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k
    FROM j
)
SELECT conv_id, touch_id, event_type,
       CAST(CASE
            WHEN k = 1 THEN 10000
            WHEN k = 2 THEN 5000
            WHEN rn = 1 OR rn = k THEN 4000
            ELSE 2000 // (k - 2)
                 + CASE WHEN rn - 1 <= 2000 % (k - 2) THEN 1 ELSE 0 END
       END AS BIGINT) AS credit_bp
FROM rk
""",
)
def position_attribution_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    purchase distributes EXACTLY 10,000 basis points of credit over
    the user's click/view touchpoints in the prior 7 days — 40% to
    the first touch, 40% to the last, the middle 20% split by
    Hamilton largest-remainder (floor share + leftover units to the
    earliest middles), so per-conversion credit conservation is an
    integer identity, not a float approximation (pinned in
    tests/test_cross_query_invariants.py).  Degenerate paths: one
    touch takes all 10,000; two touches split 5,000/5,000.

    Scale shape: a user-keyed interval join (the click_error_followups
    contract — watermarkable on a stream), one conversion-partitioned
    rank window, pure integer credit arithmetic.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("pt"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        "event_type",
        F.col("ts").alias("tt"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - F.lit(_ATTR_WINDOW_NS)),
    ).select("conv_id", "touch_id", "event_type", "tt")
    by_conv = Window.partitionBy("conv_id")
    rk = j.select(
        "conv_id",
        "touch_id",
        "event_type",
        F.row_number()
        .over(by_conv.orderBy("tt", "touch_id"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1)).over(by_conv).cast("long").alias("k"),
    )
    mid_share = F.expr("2000 div (k - 2)") + (
        (F.col("rn") - 1) <= F.expr("2000 % (k - 2)")
    ).cast("long")
    credit = (
        F.when(F.col("k") == 1, F.lit(10000))
        .when(F.col("k") == 2, F.lit(5000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(4000))
        .otherwise(mid_share)
    )
    return rk.select(
        "conv_id",
        "touch_id",
        "event_type",
        credit.cast("long").alias("credit_bp"),
    )


@register(
    "forecast_backtest_mae",
    survey="W5,A3 (extension: seasonal-naive vs naive backtest)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dq
    FROM events GROUP BY 1, 2
),
j AS (
    SELECT a.event_type, a.day_idx, a.dq,
           n1.dq AS naive_pred, n7.dq AS seasonal_pred
    FROM daily a
    JOIN daily n1 ON n1.event_type = a.event_type
                 AND n1.day_idx = a.day_idx - 1
    JOIN daily n7 ON n7.event_type = a.event_type
                 AND n7.day_idx = a.day_idx - 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(dq - naive_pred)) AS BIGINT) AS naive_ae_sum,
       CAST(sum(abs(dq - seasonal_pred)) AS BIGINT) AS seasonal_ae_sum,
       floor(CAST(sum(abs(dq - naive_pred)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
           AS naive_mae,
       floor(CAST(sum(abs(dq - seasonal_pred)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
           AS seasonal_mae
FROM j GROUP BY 1
""",
)
def forecast_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the two baseline forecasters every real forecast
    must beat: naive (yesterday's value) vs seasonal-naive (same
    weekday last week), scored by mean absolute error on each type's
    daily series over the days where both predictions exist — the
    honest yardstick that anchors the Holt/EWMA family (a model that
    can't beat seasonal-naive has no business shipping).

    Absolute errors are exact int64 on quantized cents (days joined
    by day−1 / day−7 equi-keys, no spine); MAEs are single
    round_stable divisions.  Fact aggregate + two self equi-joins on
    the tiny (type, day) grain.
    """
    from ..functions.core import round_stable

    daily = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy(
            "event_type", F.expr(f"ts div {DAY_NS}").alias("day_idx")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("dq")
        )
    )
    n1 = daily.select(
        F.col("event_type").alias("t1"),
        (F.col("day_idx") + 1).alias("d1"),
        F.col("dq").alias("naive_pred"),
    )
    n7 = daily.select(
        F.col("event_type").alias("t7"),
        (F.col("day_idx") + 7).alias("d7"),
        F.col("dq").alias("seasonal_pred"),
    )
    j = (
        daily.join(
            n1,
            (F.col("t1") == F.col("event_type"))
            & (F.col("d1") == F.col("day_idx")),
        )
        .join(
            n7,
            (F.col("t7") == F.col("event_type"))
            & (F.col("d7") == F.col("day_idx")),
        )
        .select("event_type", "dq", "naive_pred", "seasonal_pred")
    )
    g = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("dq") - F.col("naive_pred"))).alias("naive_ae_sum"),
        F.sum(F.abs(F.col("dq") - F.col("seasonal_pred"))).alias(
            "seasonal_ae_sum"
        ),
    )
    return g.select(
        "event_type",
        "n_days",
        "naive_ae_sum",
        "seasonal_ae_sum",
        round_stable(
            F.col("naive_ae_sum").cast("double") / F.col("n_days").cast("double"),
            6,
        ).alias("naive_mae"),
        round_stable(
            F.col("seasonal_ae_sum").cast("double")
            / F.col("n_days").cast("double"),
            6,
        ).alias("seasonal_mae"),
    )


_ABSORB_STEPS = 5
_ABSORB_STATE = "purchase"


def _absorption_oracle() -> str:
    rounds = []
    for k in range(1, _ABSORB_STEPS + 1):
        prev = f"r{k - 1}"
        rounds.append(
            f"""r{k} AS (
    SELECT st.s,
           CASE WHEN st.s = '{_ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                ELSE coalesce(f.v, CAST(0.0 AS DOUBLE)) END AS pv
    FROM states st LEFT JOIN (
        SELECT pm.cur AS s,
               list_reduce(list(pm.p * p.pv ORDER BY pm.nxt),
                           (a, b) -> a + b) AS v
        FROM pm JOIN {prev} p ON pm.nxt = p.s
        GROUP BY pm.cur
    ) f ON st.s = f.s
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH o AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type AS cur, next_type AS nxt FROM o WHERE next_type IS NOT NULL
),
c AS (
    SELECT cur, nxt, count(*) AS n,
           sum(count(*)) OVER (PARTITION BY cur) AS n_cur
    FROM pairs GROUP BY cur, nxt
),
pm AS (
    SELECT cur, nxt, CAST(n AS DOUBLE) / CAST(n_cur AS DOUBLE) AS p,
           CAST(n_cur AS BIGINT) AS n_cur
    FROM c
),
states AS (SELECT DISTINCT cur AS s FROM pm),
tot AS (SELECT cur AS s, CAST(max(n_cur) AS BIGINT) AS n_out FROM pm GROUP BY 1),
r0 AS (
    SELECT s, CASE WHEN s = '{_ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END AS pv
    FROM states
),
{chain}
SELECT r.s AS start_state, t.n_out,
       floor(r.pv * 1000000 + 0.5) / 1000000 AS p_convert_5
FROM r{_ABSORB_STEPS} r JOIN tot t ON r.s = t.s
"""


@register(
    "markov_absorption_conversion",
    survey="W5 (extension: absorbing-Markov k-step conversion probability)",
    oracle=_absorption_oracle(),
)
def markov_absorption_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(reach the purchase state within 5 steps | current state) —
    the absorbing-Markov readout of the transition matrix
    (`event_transition_matrix` estimates P; this answers the question
    PMs actually ask of it).  Purchase is forced absorbing (pv = 1
    every round, its outgoing transitions unused), and each round
    computes p_{{k+1}}(s) = Σ_t P(s,t)·p_k(t) with the sum folded in
    next-state order on BOTH engines (sorted-collect + add-reduce),
    so the five float iterates are bit-identical before the final
    round_stable — the finite-iteration-replay contract at state-
    grain size (≤ #event types rows per round).

    Scale shape: the transition estimate is the work (user window +
    pair groupBy); the 5 iteration rounds ride the tiny state grain.
    """
    ev = load(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = (
        o.groupBy(F.col("event_type").alias("cur"), F.col("next_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("n_cur", F.sum("n").over(Window.partitionBy("cur")))
    )
    pm = c.select(
        "cur",
        "nxt",
        (F.col("n").cast("double") / F.col("n_cur").cast("double")).alias("p"),
        F.col("n_cur").cast("long").alias("n_cur"),
    ).localCheckpoint()
    states = pm.select(F.col("cur").alias("s")).distinct()
    tot = pm.groupBy(F.col("cur").alias("s")).agg(
        F.max("n_cur").alias("n_out")
    )
    pv = F.when(F.col("s") == _ABSORB_STATE, F.lit(1.0)).otherwise(F.lit(0.0))
    p_cur = states.select("s", pv.alias("pv"))
    for _ in range(_ABSORB_STEPS):
        terms = pm.join(p_cur, pm.nxt == p_cur.s).select(
            F.col("cur"),
            F.col("nxt"),
            (F.col("p") * F.col("pv")).alias("term"),
        )
        folded = terms.groupBy("cur").agg(
            F.array_sort(F.collect_list(F.struct("nxt", "term"))).alias("ts_")
        )
        arr = F.transform(F.col("ts_"), lambda x: x["term"])
        summed = folded.select(
            F.col("cur").alias("s"),
            F.aggregate(
                F.slice(arr, 2, F.size(arr) - 1),
                F.element_at(arr, 1),
                lambda a, b: a + b,
            ).alias("v"),
        )
        p_cur = (
            states.join(summed, "s", "left")
            .select(
                "s",
                F.when(F.col("s") == _ABSORB_STATE, F.lit(1.0))
                .otherwise(F.coalesce(F.col("v"), F.lit(0.0)))
                .alias("pv"),
            )
            .localCheckpoint()
        )
    return p_cur.join(tot, "s").select(
        F.col("s").alias("start_state"),
        "n_out",
        (F.floor(F.col("pv") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "p_convert_5"
        ),
    )


@register(
    "rolling_trend_slope",
    survey="W5,A18 (extension: trailing-window regression slope)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dq
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type, day_idx, dq,
           CAST(count(*) OVER tw AS BIGINT) AS wn,
           CAST(sum(day_idx) OVER tw AS BIGINT) AS sx,
           CAST(sum(dq) OVER tw AS BIGINT) AS sy,
           CAST(sum(day_idx * day_idx) OVER tw AS BIGINT) AS sxx,
           CAST(sum(day_idx * dq) OVER tw AS BIGINT) AS sxy
    FROM daily
    WINDOW tw AS (PARTITION BY event_type ORDER BY day_idx
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day_idx, dq, wn,
       CASE WHEN wn >= 3 AND wn * sxx - sx * sx > 0
            THEN floor(CAST(wn * sxy - sx * sy AS DOUBLE)
                       / CAST(wn * sxx - sx * sx AS DOUBLE)
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS slope_q2_per_day
FROM w
""",
)
def rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14-day OLS slope of each type's daily series at every
    day — "how fast is this metric moving right now", the windowed
    regression that upgrades the burst z-score (level anomaly) with a
    trend readout, and the feature a forecasting model consumes.

    Five exact int64 frame moments per row (count, Σx, Σy, Σx², Σxy
    over ROWS 13 PRECEDING..CURRENT; x is the epoch-day index so x²
    sums stay ~1e17 for decades — int64-budget-checked) feed the
    closed-form slope (wΣxy − ΣxΣy)/(wΣxx − (Σx)²) as ONE guarded
    fixed-order double.  A single WindowExec serves all five frames.
    """
    from ..functions.core import round_stable

    daily = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy(
            "event_type", F.expr(f"ts div {DAY_NS}").alias("day_idx")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("dq")
        )
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-13, 0)
    )
    w = (
        daily.withColumn("wn", F.count(F.lit(1)).over(tw))
        .withColumn("sx", F.sum("day_idx").over(tw))
        .withColumn("sy", F.sum("dq").over(tw))
        .withColumn("sxx", F.sum(F.col("day_idx") * F.col("day_idx")).over(tw))
        .withColumn("sxy", F.sum(F.col("day_idx") * F.col("dq")).over(tw))
    )
    wn, sx, sy, sxx, sxy = (F.col(k) for k in ("wn", "sx", "sy", "sxx", "sxy"))
    den = (wn * sxx - sx * sx).cast("long")
    slope = F.when(
        (wn >= 3) & (den > 0),
        round_stable(
            (wn * sxy - sx * sy).cast("double") / den.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return w.select(
        "event_type",
        "day_idx",
        "dq",
        wn.cast("long").alias("wn"),
        slope.alias("slope_q2_per_day"),
    )


_DECAY_MAX_WEEKS = 30  # ages beyond this carry zero weight


@register(
    "trending_users_decayed",
    survey="W4,W5 (extension: exponential time-decay trending score)",
    oracle=f"""
WITH mx AS (
    SELECT max(epoch_ns(ts) // {DAY_NS}) AS dmax FROM events
),
w AS (
    SELECT user_id,
           ((SELECT dmax FROM mx) - epoch_ns(ts) // {DAY_NS}) // 7 AS age_w
    FROM events
),
sc AS (
    SELECT user_id,
           CAST(sum(CASE WHEN age_w <= {_DECAY_MAX_WEEKS}
                         THEN (CAST(1 AS BIGINT) << ({_DECAY_MAX_WEEKS} - age_w))
                         ELSE 0 END) AS BIGINT) AS score_scaled
    FROM w GROUP BY 1
),
rk AS (
    SELECT user_id, score_scaled,
           row_number() OVER (ORDER BY score_scaled DESC, user_id) AS rn
    FROM sc
)
SELECT user_id, score_scaled, CAST(rn AS BIGINT) AS trend_rank,
       floor(CAST(score_scaled AS DOUBLE) / {2**_DECAY_MAX_WEEKS}
             * 1000000 + 0.5) / 1000000 AS decayed_score
FROM rk WHERE rn <= 20
""",
)
def trending_users_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trending users by exponentially time-decayed activity
    (weekly half-life): each event contributes 2^(−age_weeks),
    anchored at the data's own max day — the feed/leaderboard decay
    everyone implements with floating pow() and regrets.  Here the
    weight is the INTEGER 2^(30 − age_weeks) (a bit shift; ages past
    30 weeks round to zero — they would be below one part in 2^30
    anyway), so scores are exact int64 sums — no libm pow, no
    summation-order sensitivity, bit-stable ranking with a user-id
    tie-break — and the display score is one final division by 2^30.

    Scale shape: one map-side-combinable groupBy over the fact with
    a broadcast max-day scalar, then the usual global top-k sort.
    """
    ev = load(spark, sf_dir, "events", fan_out=True)
    mx = ev.agg(F.max(F.expr(f"ts div {DAY_NS}")).alias("dmax"))
    w = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr(f"(dmax - (ts div {DAY_NS})) div 7").alias("age_w"),
    )
    sc = w.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("age_w") <= _DECAY_MAX_WEEKS,
                F.expr(
                    f"shiftleft(cast(1 as bigint), "
                    f"cast({_DECAY_MAX_WEEKS} - age_w as int))"
                ),
            ).otherwise(F.lit(0))
        ).alias("score_scaled")
    )
    rk = topk_ranked(sc, "ORDER BY score_scaled DESC, user_id ASC", 20)
    from ..functions.core import round_stable

    return rk.select(
        "user_id",
        "score_scaled",
        F.col("rk").cast("long").alias("trend_rank"),
        round_stable(
            F.col("score_scaled").cast("double") / F.lit(float(2**_DECAY_MAX_WEEKS)),
            6,
        ).alias("decayed_score"),
    )


@register(
    "peak_event_rate_per_user",
    survey="J8,W5 (extension: exact max sliding-window event rate)",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, epoch_ns(ts) AS t FROM events
)
SELECT a.user_id,
       CAST(max(cnt) AS BIGINT) AS peak_events_per_hour
FROM (
    SELECT a.user_id, a.event_id,
           CAST(count(*) AS BIGINT) AS cnt
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND b.t >= a.t AND b.t < a.t + {HOUR_NS}
    GROUP BY a.user_id, a.event_id
) a
GROUP BY a.user_id
""",
)
def peak_event_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's TRUE peak hourly event rate: the maximum number of
    events in ANY 60-minute window (anchored at each event — the
    classic sweep argument: some maximal window starts exactly at an
    event, so anchoring at events is lossless).  Tumbling or slide-
    aligned windows UNDERCOUNT bursts that straddle boundaries; this
    is the exact figure rate-limit and capacity sizing needs.

    Expressed as a user-keyed self interval join (the
    click_error_followups contract — each event pairs with the events
    in its forward hour), a per-anchor count, and a per-user max —
    candidate volume is bounded by events-per-user-hour, never
    quadratic in history.  All-integer output.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").alias("t")
    )
    b = e.select(
        F.col("user_id").alias("b_user"), F.col("t").alias("bt")
    )
    cnt = (
        e.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("bt") >= F.col("t"))
            & (F.col("bt") < F.col("t") + F.lit(HOUR_NS)),
        )
        .groupBy("user_id", "event_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return cnt.groupBy("user_id").agg(
        F.max("cnt").cast("long").alias("peak_events_per_hour")
    )


@register(
    "audience_overlap_daily",
    survey="U1,A15 (extension: day-over-day audience Jaccard)",
    oracle=f"""
WITH du AS (
    SELECT DISTINCT epoch_ns(ts) // {DAY_NS} AS day_idx, user_id FROM events
),
dau AS (
    SELECT day_idx, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1
),
inter AS (
    SELECT a.day_idx,
           CAST(count(*) AS BIGINT) AS n_common
    FROM du a JOIN du b
      ON a.user_id = b.user_id AND b.day_idx = a.day_idx + 1
    GROUP BY a.day_idx
)
SELECT a.day_idx, a.n AS n_today, b.n AS n_tomorrow,
       CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       floor(CAST(coalesce(i.n_common, 0) AS DOUBLE)
             / CAST(a.n + b.n - coalesce(i.n_common, 0) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS jaccard,
       floor(CAST(coalesce(i.n_common, 0) AS DOUBLE) / CAST(a.n AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS next_day_retention
FROM dau a
JOIN dau b ON b.day_idx = a.day_idx + 1
LEFT JOIN inter i ON i.day_idx = a.day_idx
""",
)
def audience_overlap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap: for each consecutive day pair,
    the exact Jaccard similarity of the two user sets and the
    next-day retention rate (|A∩B|/|A|) — the audience-churn pulse
    between the single-day DAU view and the week-scale cohort
    curves.  The intersection is a user equi-join on the deduped
    (day, user) grain shifted by one day; union size is the
    inclusion-exclusion identity on exact counts, so both ratios are
    single guarded round_stable divisions over int64.
    """
    from ..functions.cache import tracked_persist
    from ..functions.core import round_stable

    du = tracked_persist(
        load(spark, sf_dir, "events", fan_out=True)
        .select(F.expr(f"ts div {DAY_NS}").alias("day_idx"), "user_id")
        .distinct(),
        "audience_overlap.day_user",
    )
    dau = du.groupBy("day_idx").agg(F.count(F.lit(1)).alias("n"))
    b = du.select(
        (F.col("day_idx") - 1).alias("a_day"), F.col("user_id").alias("b_user")
    )
    inter = (
        du.join(
            b,
            (F.col("day_idx") == F.col("a_day"))
            & (F.col("user_id") == F.col("b_user")),
        )
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nxt = dau.select(
        (F.col("day_idx") - 1).alias("p_day"), F.col("n").alias("n_tomorrow")
    )
    j = (
        dau.join(nxt, F.col("day_idx") == F.col("p_day"))
        .join(inter, "day_idx", "left")
        .select(
            "day_idx",
            F.col("n").alias("n_today"),
            "n_tomorrow",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
                "n_common"
            ),
        )
    )
    union_n = (
        F.col("n_today") + F.col("n_tomorrow") - F.col("n_common")
    ).cast("double")
    return j.select(
        "day_idx",
        "n_today",
        "n_tomorrow",
        "n_common",
        round_stable(F.col("n_common").cast("double") / union_n, 6).alias(
            "jaccard"
        ),
        round_stable(
            F.col("n_common").cast("double") / F.col("n_today").cast("double"),
            6,
        ).alias("next_day_retention"),
    )


@register(
    "audience_overlap_hll",
    survey="A16,U1 (extension: audience intersection from sketch algebra)",
    # rows-only: Datasketches HLL binaries are engine-specific; the
    # estimate is pinned against the exact audience_overlap_daily in
    # tests/test_cross_query_invariants.py.
)
def audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for `audience_overlap_daily`: day-over-day
    audience intersection WITHOUT any user-level join, from stored
    per-day HLL sketches alone — |A∩B| = |A| + |B| − |A∪B| with the
    union a sketch merge.  The same persisted daily sketches that
    serve rolling actives answer overlap questions here: sketch
    algebra turns set questions into metadata lookups.  (Intersection
    via inclusion-exclusion compounds the HLL error of three
    estimates — fine for audience-sized overlaps, documented
    unsuitable for needle-sized ones; the exact twin pins tolerance.)
    """
    ev = load(spark, sf_dir, "events", fan_out=True)
    daily = (
        ev.groupBy(F.expr(f"ts div {DAY_NS}").alias("day_idx"))
        .agg(
            F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
            F.countDistinct("user_id").alias("n_exact"),
        )
        .localCheckpoint()
    )
    nxt = daily.select(
        (F.col("day_idx") - 1).alias("p_day"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("nb"),
    )
    pair = daily.join(nxt, F.col("day_idx") == F.col("p_day")).select(
        "day_idx",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_a"),
        F.expr("hll_sketch_estimate(sk_b)").cast("long").alias("est_b"),
        F.expr(
            "hll_sketch_estimate(hll_union(sk, sk_b))"
        )
        .cast("long")
        .alias("est_union"),
    )
    return pair.select(
        "day_idx",
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .cast("long")
        .alias("est_common"),
    )


def _removal_oracle() -> str:
    """Removal-effect oracle: the absorption chain re-run with each
    channel knocked out (its probability pinned to 0), plus the
    empirical first-event start distribution."""

    def chain(tag: str, removed: str | None) -> str:
        zero = (
            f"st.s = '{removed}' OR " if removed is not None else ""
        )
        rounds = []
        for k in range(1, _ABSORB_STEPS + 1):
            prev = f"r{k - 1}{tag}"
            rounds.append(
                f"""r{k}{tag} AS (
    SELECT st.s,
           CASE WHEN {zero}FALSE THEN CAST(0.0 AS DOUBLE)
                WHEN st.s = '{_ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                ELSE coalesce(f.v, CAST(0.0 AS DOUBLE)) END AS pv
    FROM states st LEFT JOIN (
        SELECT pm.cur AS s,
               list_reduce(list(pm.p * p.pv ORDER BY pm.nxt),
                           (a, b) -> a + b) AS v
        FROM pm JOIN {prev} p ON pm.nxt = p.s
        GROUP BY pm.cur
    ) f ON st.s = f.s
)"""
            )
        r0 = f"""r0{tag} AS (
    SELECT s, CASE WHEN {zero}FALSE THEN CAST(0.0 AS DOUBLE)
                   WHEN s = '{_ABSORB_STATE}' THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END AS pv
    FROM states
)"""
        conv = f"""conv{tag} AS (
    SELECT list_reduce(
        list(pi.w * r.pv ORDER BY pi.s), (a, b) -> a + b) AS p_conv
    FROM pi JOIN r{_ABSORB_STEPS}{tag} r ON pi.s = r.s
)"""
        return ",\n".join([r0] + rounds + [conv])

    channels = ["click", "view", "signup", "error"]
    chains = ",\n".join(
        [chain("_base", None)]
        + [chain(f"_c{i}", ch) for i, ch in enumerate(channels)]
    )
    sel = "\nUNION ALL\n".join(
        f"""SELECT '{ch}' AS channel,
       floor((1.0 - c.p_conv / b.p_conv) * 1000000 + 0.5) / 1000000
           AS removal_effect
FROM conv_c{i} c, conv_base b"""
        for i, ch in enumerate(channels)
    )
    return f"""
WITH o AS (
    SELECT user_id, event_type, epoch_ns(ts) AS t, event_id,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS next_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_ns(ts), event_id) AS rn
    FROM events
),
pairs AS (
    SELECT event_type AS cur, next_type AS nxt FROM o WHERE next_type IS NOT NULL
),
c AS (
    SELECT cur, nxt, count(*) AS n,
           sum(count(*)) OVER (PARTITION BY cur) AS n_cur
    FROM pairs GROUP BY cur, nxt
),
pm AS (
    SELECT cur, nxt, CAST(n AS DOUBLE) / CAST(n_cur AS DOUBLE) AS p FROM c
),
states AS (SELECT DISTINCT cur AS s FROM pm),
starts AS (
    SELECT event_type AS s, CAST(count(*) AS BIGINT) AS n
    FROM o WHERE rn = 1 GROUP BY 1
),
pi AS (
    SELECT st.s,
           CAST(coalesce(sta.n, 0) AS DOUBLE)
               / CAST((SELECT sum(n) FROM starts) AS DOUBLE) AS w
    FROM states st LEFT JOIN starts sta ON st.s = sta.s
),
{chains}
{sel}
"""


@register(
    "markov_removal_attribution",
    survey="W5 (extension: Markov removal-effect channel attribution)",
    oracle=_removal_oracle(),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov (removal-effect) channel attribution — the data-driven
    alternative to the position-based U-shape: each channel's value
    is how much 5-step conversion probability DISAPPEARS when that
    channel is knocked out of the chain (its state zeroed each
    round, so paths through it die), weighted by the empirical
    first-event start distribution: effect(c) = 1 − P₋c/P.

    Every per-channel run replays the same fixed-order-fold
    iteration as `markov_absorption_conversion` (bit-identical
    doubles), the start weights are exact-count ratios, and the
    final effect is one guarded division through round_stable(6).
    The oracle unrolls all five chains (base + 4 removals) as CTE
    families.  Scale shape: the transition estimate and start
    distribution are the data-touching work; 25 iteration rounds
    ride the tiny state grain.
    """
    from ..functions.core import round_stable

    ev = load(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type").over(w_user).alias("next_type"),
        F.row_number().over(w_user).alias("rn"),
    )
    pairs = o.filter(F.col("next_type").isNotNull())
    c = (
        pairs.groupBy(
            F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("n_cur", F.sum("n").over(Window.partitionBy("cur")))
    )
    pm = c.select(
        "cur",
        "nxt",
        (F.col("n").cast("double") / F.col("n_cur").cast("double")).alias("p"),
    ).localCheckpoint()
    states = pm.select(F.col("cur").alias("s")).distinct().localCheckpoint()
    starts = (
        o.filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pi = (
        states.join(starts, "s", "left")
        .crossJoin(
            F.broadcast(starts.agg(F.sum("n").alias("tot")))
        )
        .select(
            "s",
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tot").cast("double")
            ).alias("w"),
        )
        .localCheckpoint()
    )

    def absorb_prob(removed: str | None):
        dead = (
            (F.col("s") == removed) if removed is not None else F.lit(False)
        )
        pv0 = (
            F.when(dead, F.lit(0.0))
            .when(F.col("s") == _ABSORB_STATE, F.lit(1.0))
            .otherwise(F.lit(0.0))
        )
        p_cur = states.select("s", pv0.alias("pv"))
        for _ in range(_ABSORB_STEPS):
            terms = pm.join(p_cur, pm.nxt == p_cur.s).select(
                "cur", "nxt", (F.col("p") * F.col("pv")).alias("term")
            )
            folded = terms.groupBy("cur").agg(
                F.array_sort(F.collect_list(F.struct("nxt", "term"))).alias(
                    "ts_"
                )
            )
            arr = F.transform(F.col("ts_"), lambda x: x["term"])
            summed = folded.select(
                F.col("cur").alias("s"),
                F.aggregate(
                    F.slice(arr, 2, F.size(arr) - 1),
                    F.element_at(arr, 1),
                    lambda a, b: a + b,
                ).alias("v"),
            )
            p_cur = (
                states.join(summed, "s", "left")
                .select(
                    "s",
                    F.when(dead, F.lit(0.0))
                    .when(F.col("s") == _ABSORB_STATE, F.lit(1.0))
                    .otherwise(F.coalesce(F.col("v"), F.lit(0.0)))
                    .alias("pv"),
                )
                .localCheckpoint()
            )
        wt = pi.join(p_cur, "s").select(
            "s", (F.col("w") * F.col("pv")).alias("term")
        )
        g = wt.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("s", "term"))).alias("ts_")
        )
        arr = F.transform(F.col("ts_"), lambda x: x["term"])
        return g.select(
            F.aggregate(
                F.slice(arr, 2, F.size(arr) - 1),
                F.element_at(arr, 1),
                lambda a, b: a + b,
            ).alias("p_conv")
        )

    base = absorb_prob(None).select(F.col("p_conv").alias("p_base"))
    channels = ["click", "view", "signup", "error"]
    out = None
    for ch in channels:
        eff = (
            absorb_prob(ch)
            .crossJoin(F.broadcast(base))
            .select(
                F.lit(ch).alias("channel"),
                round_stable(
                    F.lit(1.0) - F.col("p_conv") / F.col("p_base"), 6
                ).alias("removal_effect"),
            )
        )
        out = eff if out is None else out.unionAll(eff)
    return out


@register(
    "logrank_conversion_test",
    survey="M14-adjacent,W5 (extension: log-rank time-to-conversion comparison)",
    oracle=f"""
WITH fp AS (
    SELECT user_id,
           min(epoch_ns(ts) // {DAY_NS}) AS first_day,
           max(epoch_ns(ts) // {DAY_NS}) AS last_day,
           min(CASE WHEN event_type = 'purchase'
                    THEN epoch_ns(ts) // {DAY_NS} END) AS conv_day
    FROM events GROUP BY user_id
),
u AS (
    SELECT CAST(user_id % 2 AS BIGINT) AS grp,
           CASE WHEN conv_day IS NULL THEN last_day - first_day
                ELSE conv_day - first_day END AS dur,
           CASE WHEN conv_day IS NULL THEN 1 ELSE 0 END AS censored
    FROM fp
),
g AS (
    SELECT dur,
           CAST(sum(CASE WHEN grp = 1 THEN 1 - censored ELSE 0 END) AS BIGINT) AS d1_,
           CAST(sum(CASE WHEN grp = 0 THEN 1 - censored ELSE 0 END) AS BIGINT) AS d0_,
           CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
           CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0
    FROM u GROUP BY dur
),
rk AS (
    SELECT dur, d1_, d0_,
           CAST(sum(a1) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n1,
           CAST(sum(a0) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n0
    FROM g
),
terms AS (
    SELECT dur, d1_,
           CAST(d1_ + d0_ AS BIGINT) AS d,
           CAST(n1 + n0 AS BIGINT) AS n,
           n1
    FROM rk WHERE d1_ + d0_ > 0
),
folded AS (
    SELECT CAST(sum(d1_) AS BIGINT) AS o1,
           list_reduce(
               list(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)
                    ORDER BY dur),
               (a, b) -> a + b) AS e1,
           list_reduce(
               list(CASE WHEN n > 1
                         THEN ((CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE)
                                                     / CAST(n AS DOUBLE)))
                               * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)))
                              * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                         ELSE 0.0 END ORDER BY dur),
               (a, b) -> a + b) AS v
    FROM terms
)
SELECT o1,
       floor(e1 * 1000000 + 0.5) / 1000000 AS e1,
       floor(v * 1000000 + 0.5) / 1000000 AS variance,
       CASE WHEN v > 0
            THEN floor((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)
                       / v * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS logrank_chi2
FROM folded
""",
)
def logrank_conversion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing TIME-TO-FIRST-PURCHASE between the two
    parity-split arms — "does treatment speed up conversion?",
    answered the survival-statistics way: users who never purchase
    are right-CENSORED at their last activity (a naive mean-latency
    comparison silently drops or biases exactly those users).  At
    each conversion time the observed group-1 conversions are
    compared with the hypergeometric expectation d·n₁/n and its
    variance; the statistic is (O−E)²/V.

    Numerics: conversions and at-risk counts are exact int64 reverse
    cumsums on the duration grain; the E and V accumulations are
    rationals folded in duration order on BOTH engines (the bounded-
    grain sorted-fold contract), and the statistic is one guarded
    fixed-order double through round_stable(6).  (The lifetime-churn
    framing is degenerate on this fixture — every user is active in
    the final week — so the operator measures the conversion clock,
    where real variation exists.)
    """
    from ..functions.core import round_stable

    fp = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy("user_id")
        .agg(
            F.min(F.expr(f"ts div {DAY_NS}")).alias("first_day"),
            F.max(F.expr(f"ts div {DAY_NS}")).alias("last_day"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(f"ts div {DAY_NS}"),
                )
            ).alias("conv_day"),
        )
    )
    u = fp.select(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.when(
            F.col("conv_day").isNull(), F.col("last_day") - F.col("first_day")
        )
        .otherwise(F.col("conv_day") - F.col("first_day"))
        .alias("dur"),
        F.col("conv_day").isNull().cast("long").alias("censored"),
    )
    g = u.groupBy("dur").agg(
        F.sum(F.col("grp") * (F.lit(1) - F.col("censored"))).alias("d1_"),
        F.sum((F.lit(1) - F.col("grp")) * (F.lit(1) - F.col("censored"))).alias(
            "d0_"
        ),
        F.sum(F.col("grp")).alias("a1"),
        F.sum(F.lit(1) - F.col("grp")).alias("a0"),
    )
    rev = (
        Window.orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = g.withColumn("n1", F.sum("a1").over(rev)).withColumn(
        "n0", F.sum("a0").over(rev)
    )
    terms = rk.filter(F.col("d1_") + F.col("d0_") > 0).select(
        "dur",
        "d1_",
        (F.col("d1_") + F.col("d0_")).alias("d"),
        (F.col("n1") + F.col("n0")).alias("n"),
        "n1",
    )
    e_term = F.col("d").cast("double") * F.col("n1").cast("double") / F.col(
        "n"
    ).cast("double")
    frac = F.col("n1").cast("double") / F.col("n").cast("double")
    v_term = F.when(
        F.col("n") > 1,
        ((F.col("d").cast("double") * frac) * (F.lit(1.0) - frac))
        * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1).cast("double")),
    ).otherwise(F.lit(0.0))
    folded = terms.select(
        "dur", "d1_", e_term.alias("et"), v_term.alias("vt")
    ).groupBy().agg(
        F.sum("d1_").alias("o1"),
        F.array_sort(
            F.collect_list(F.struct(F.col("dur"), F.col("et").alias("val")))
        ).alias("ea"),
        F.array_sort(
            F.collect_list(F.struct(F.col("dur"), F.col("vt").alias("val")))
        ).alias("va"),
    )

    def fold_sum(col):
        arr = F.transform(col, lambda x: x["val"])
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: a + b,
        )

    e1, v = fold_sum(F.col("ea")), fold_sum(F.col("va"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    chi2 = F.when(
        v > 0,
        round_stable(
            (F.col("o1").cast("double") - e1)
            * (F.col("o1").cast("double") - e1)
            / v,
            6,
        ),
    ).otherwise(F.lit(0.0))
    return folded.select(
        F.col("o1").cast("long").alias("o1"),
        r6(e1).alias("e1"),
        r6(v).alias("variance"),
        chi2.alias("logrank_chi2"),
    )


@register(
    "kaplan_meier_conversion",
    survey="M14-adjacent,W5 (extension: time-to-conversion survival curve)",
    oracle=f"""
WITH fp AS (
    SELECT user_id,
           min(epoch_ns(ts) // {DAY_NS}) AS first_day,
           max(epoch_ns(ts) // {DAY_NS}) AS last_day,
           min(CASE WHEN event_type = 'purchase'
                    THEN epoch_ns(ts) // {DAY_NS} END) AS conv_day
    FROM events GROUP BY user_id
),
u AS (
    SELECT CASE WHEN conv_day IS NULL THEN last_day - first_day
                ELSE conv_day - first_day END AS dur,
           CASE WHEN conv_day IS NULL THEN 1 ELSE 0 END AS censored
    FROM fp
),
{_KM_TAIL_SQL}SELECT dur AS days_to_convert, d AS n_converted, c AS n_censored, n_at_risk,
       survival AS not_yet_converted
FROM km
""",
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve on the CONVERSION clock: S(t) = P(still not
    purchased t days after first activity), with never-purchasers
    right-censored at their last activity — the curve the log-rank
    test compares, and the non-degenerate companion to
    `kaplan_meier_churn` on this fixture (every user survives the
    churn framing; conversion actually happens).  1 − S(t) is the
    cumulative-conversion curve growth teams plot.

    Same `_km_curve` as the churn curve; only the user-grain
    (duration, censored) derivation differs.
    """
    fp = (
        load(spark, sf_dir, "events", fan_out=True)
        .groupBy("user_id")
        .agg(
            F.min(F.expr(f"ts div {DAY_NS}")).alias("first_day"),
            F.max(F.expr(f"ts div {DAY_NS}")).alias("last_day"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(f"ts div {DAY_NS}"),
                )
            ).alias("conv_day"),
        )
    )
    u = fp.select(
        F.when(
            F.col("conv_day").isNull(), F.col("last_day") - F.col("first_day")
        )
        .otherwise(F.col("conv_day") - F.col("first_day"))
        .alias("dur"),
        F.col("conv_day").isNull().cast("long").alias("censored"),
    )
    return _km_curve(u).select(
        F.col("dur").alias("days_to_convert"),
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        "n_at_risk",
        F.col("survival").alias("not_yet_converted"),
    )


@register(
    "cusum_drift_alarms",
    survey="W5,M19 (extension: two-sided CUSUM change detection via the Lindley closed form)",
    oracle=f"""
WITH daily AS (
    SELECT event_type, epoch_ns(ts) // {DAY_NS} AS day_idx,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dq
    FROM events GROUP BY 1, 2
),
med AS (
    SELECT event_type, CAST(2 * median(dq) AS BIGINT) AS med2
    FROM daily GROUP BY event_type
),
d AS (
    SELECT daily.event_type, day_idx, 2 * dq - med2 AS dd, 2 * med2 AS h2
    FROM daily JOIN med USING (event_type)
),
p AS (
    SELECT event_type, day_idx, h2,
           sum(dd) OVER (PARTITION BY event_type ORDER BY day_idx
                         ROWS UNBOUNDED PRECEDING) AS pfx
    FROM d
),
sw AS (
    SELECT event_type, h2, pfx,
           min(pfx) OVER (PARTITION BY event_type ORDER BY day_idx
                          ROWS UNBOUNDED PRECEDING) AS rmin,
           max(pfx) OVER (PARTITION BY event_type ORDER BY day_idx
                          ROWS UNBOUNDED PRECEDING) AS rmax
    FROM p
),
sc AS (
    SELECT event_type, h2,
           pfx - least(0, rmin) AS s_hi,
           greatest(0, rmax) - pfx AS s_lo
    FROM sw
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN s_hi > h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_alarms,
       CAST(sum(CASE WHEN s_lo > h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_alarms,
       CAST(max(s_hi) AS BIGINT) AS max_cusum_high_x2,
       CAST(max(s_lo) AS BIGINT) AS max_cusum_low_x2
FROM sc GROUP BY event_type
""",
)
def cusum_drift_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change detection over each event type's daily
    value series: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − target)) accumulates
    upward drift, S⁻ₜ the mirror image, alarming when either exceeds
    twice the target (target = the type's exact median daily cents).
    The production control-chart companion to the MAD outlier fences
    and the chi²/KS drift tests — those flag level shifts point-wise,
    CUSUM catches slow drifts that never individually breach a fence.

    The max(0, ·) recursion is the SAME Lindley walk as
    `capped_running_balance`, solved by the same closed form instead
    of a stateful scan: S⁺ = pfx − min(0, running-min pfx), and on
    negated deltas S⁻ = max(0, running-max pfx) − pfx — so BOTH sides
    come out of one prefix sum plus two running extrema in a single
    event_type-partitioned WindowExec.  Everything is integer: daily
    cents are exact, and doubling (2·x − 2·median) keeps the target
    exact even when the median interpolates halfway, so outputs carry
    the `_x2` unit suffix and parity needs no float analysis.

    Scale shape: one corpus pass to the (type, day) grain with
    map-side combine (metadata-sized output — 10 types × days), a
    broadcast-joined per-type target, and windows over that same tiny
    grain; at 100 TB the scan dominates and the chart math is free."""
    d = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts div {DAY_NS}").alias("day_idx"),
        (F.floor(F.col("value") * 100 + F.lit(0.5))).cast("long").alias("cents"),
    )
    daily = d.groupBy("event_type", "day_idx").agg(
        F.sum("cents").cast("long").alias("dq")
    )
    from ..functions.cache import tracked_persist

    daily = tracked_persist(daily, "cusum_drift_alarms.daily")
    med = daily.groupBy("event_type").agg(
        (F.lit(2) * F.expr("percentile(dq, 0.5)")).cast("long").alias("med2")
    )
    dd = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day_idx",
        (F.lit(2) * F.col("dq") - F.col("med2")).alias("dd"),
        (F.lit(2) * F.col("med2")).alias("h2"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = dd.withColumn("pfx", F.sum("dd").over(w))
    sw = p.withColumn("rmin", F.min("pfx").over(w)).withColumn(
        "rmax", F.max("pfx").over(w)
    )
    sc = sw.select(
        "event_type",
        "h2",
        (F.col("pfx") - F.least(F.lit(0), F.col("rmin"))).alias("s_hi"),
        (F.greatest(F.lit(0), F.col("rmax")) - F.col("pfx")).alias("s_lo"),
    )
    return sc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum((F.col("s_hi") > F.col("h2")).cast("int")).cast("bigint").alias(
            "n_high_alarms"
        ),
        F.sum((F.col("s_lo") > F.col("h2")).cast("int")).cast("bigint").alias(
            "n_low_alarms"
        ),
        F.max("s_hi").cast("bigint").alias("max_cusum_high_x2"),
        F.max("s_lo").cast("bigint").alias("max_cusum_low_x2"),
    )
