"""As-of (backward) join — SURVEY.md §2.3 J8.

The reference has no as-of semantics (its nearest analog is the
DATEADD window predicate P5), but an as-of join is a core operator
for any time-series/event analytics engine, so it ships as a
first-class extension.

Spark has no native ASOF JOIN.  The scalable implementation here is
the **union + last(ignorenulls) running window**: tag right rows 0
and left rows 1, union on (keys, time, tag), then a single
partitionBy(keys).orderBy(time, tag) window carries the most recent
right payload forward onto each left row.

Why this beats the alternatives at 100 TB:
- a theta join `l.t >= r.t` explodes to O(|L|·|R|) per key before
  aggregation — unusable;
- bucketed range-joins need tuning and still duplicate rows;
- the union trick is ONE shuffle on the join keys and a linear scan
  per partition — the same cost profile as a groupBy, and AQE/salting
  apply to it like any other keyed shuffle.

The DuckDB oracle uses its native ASOF JOIN, so the two engines
cross-check each other's semantics (ties on equal timestamps resolve
to the right row — tag 0 sorts first — matching ASOF's `l.t >= r.t`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import HOUR_NS, load
from .registry import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """Inner as-of join: each left row picks the right row with the
    greatest right_time <= left_time (`backward`, default) or the
    smallest right_time >= left_time (`forward`) within its key group;
    `tolerance` (same units as the time columns) drops matches farther
    away than the bound — pandas merge_asof semantics, one window pass.

    Forward is the same union+carry with the scan order reversed (time
    DESC); the tag still sorts the right row first on ties so equality
    matches in both directions.  `right` must be unique per
    (on..., right_time) — pre-aggregate with max_by/arg_max if it is
    not, or the match is nondeterministic (same contract as
    DuckDB/Pandas ASOF).  Output = all left columns plus the matched
    right payload columns; left rows with no match are dropped (inner
    semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # single-parse build (r13, guide §5/§7.3): the per-column
    # F.col/alias loops cost a py4j round trip per column per stage;
    # composed as selectExpr strings (backtick-quoted) the arithmetic,
    # tags, window and output columns are unchanged.
    payload_cols = [c for c in right.columns if c not in {*on, right_time}]
    left_cols = [c for c in left.columns]
    on_q = [f"`{c}`" for c in on]

    payload_sql = ", ".join([f"`{right_time}` AS _rt", *[f"`{c}`" for c in payload_cols]])
    r2 = right.selectExpr(
        *on_q,
        f"`{right_time}` AS _t",
        "0 AS _tag",
        f"struct({payload_sql}) AS _p",
    )
    # align schemas for unionByName: left rows carry a null payload
    l2 = left.selectExpr(
        *on_q,
        f"`{left_time}` AS _t",
        "1 AS _tag",
        "NULL AS _p",
        *[f"`{c}` AS `_l_{c}`" for c in left_cols],
    )
    r2 = r2.selectExpr("*", *[f"NULL AS `_l_{c}`" for c in left_cols])
    l2 = l2.select(r2.columns)  # same column order; _p stays typed via union
    u = r2.unionByName(l2, allowMissingColumns=False)

    t_dir = "ASC" if direction == "backward" else "DESC"
    out = u.selectExpr(
        "*",
        "last(_p, true) OVER (PARTITION BY "
        + ", ".join(on_q)
        + f" ORDER BY _t {t_dir}, _tag ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _match",
    ).filter("_tag = 1 AND _match IS NOT NULL")
    if tolerance is not None:
        gap = (
            "(_t - _match._rt)"
            if direction == "backward"
            else "(_match._rt - _t)"
        )
        out = out.filter(f"{gap} <= {tolerance}")
    return out.selectExpr(
        *[f"`_l_{c}` AS `{c}`" for c in left_cols],
        f"_match._rt AS `matched_{right_time}`",
        *[f"_match.`{c}` AS `{c}`" for c in payload_cols],
    )


@register(
    "asof_join_events",
    survey="J8 (extension: backward as-of join)",
    bench=True,
    oracle="""
WITH err AS (
    SELECT user_id,
           epoch_ns(ts) AS err_t_ns,
           max(event_id) AS err_id,
           arg_max(value, event_id) AS err_value
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
),
clk AS (
    SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_t_ns, value AS click_value
    FROM events
    WHERE event_type = 'click'
)
SELECT c.click_id, c.user_id, c.click_t_ns, c.click_value,
       e.err_t_ns AS matched_err_t_ns, e.err_id, e.err_value
FROM clk c
ASOF JOIN err e ON c.user_id = e.user_id AND c.click_t_ns >= e.err_t_ns
""",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: attribute each click to the user's most recent prior (or
    simultaneous) error — backward as-of join via the union+window
    carry.  The right side is first reduced to one row per
    (user, time) with max_by determinism; timestamps are truncated to
    µs so the int64 ns domain matches the oracle's epoch_ns."""
    ev = load(spark, sf_dir, "events")
    us = F.col("ts") - F.col("ts") % F.lit(1_000)

    err = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", us.alias("err_t_ns"), F.struct("event_id", "value").alias("s"))
        .groupBy("user_id", "err_t_ns")
        .agg(F.max("s").alias("m"))  # deterministic: greatest event_id wins
        .select(
            "user_id",
            "err_t_ns",
            F.col("m.event_id").alias("err_id"),
            F.col("m.value").alias("err_value"),
        )
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("click_t_ns"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        clk, err, on=["user_id"], left_time="click_t_ns", right_time="err_t_ns"
    )


def _err_clk(spark: SparkSession, sf_dir: str):
    ev = load(spark, sf_dir, "events")
    us = F.col("ts") - F.col("ts") % F.lit(1_000)
    err = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", us.alias("err_t_ns"), F.struct("event_id", "value").alias("s"))
        .groupBy("user_id", "err_t_ns")
        .agg(F.max("s").alias("m"))
        .select(
            "user_id",
            "err_t_ns",
            F.col("m.event_id").alias("err_id"),
            F.col("m.value").alias("err_value"),
        )
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("click_t_ns"),
        F.col("value").alias("click_value"),
    )
    return clk, err


@register(
    "asof_join_forward",
    survey="J8 (extension: forward as-of join)",
    oracle="""
WITH err AS (
    SELECT user_id,
           epoch_ns(ts) AS err_t_ns,
           max(event_id) AS err_id,
           arg_max(value, event_id) AS err_value
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
),
clk AS (
    SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_t_ns, value AS click_value
    FROM events
    WHERE event_type = 'click'
)
SELECT c.click_id, c.user_id, c.click_t_ns, c.click_value,
       e.err_t_ns AS matched_err_t_ns, e.err_id, e.err_value
FROM clk c
ASOF JOIN err e ON c.user_id = e.user_id AND c.click_t_ns <= e.err_t_ns
""",
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click matched to the user's NEXT error at
    or after it — the same union+window carry scanned in descending
    time.  Cross-checked against DuckDB's native ASOF with the `<=`
    inequality, so both directions of the operator are oracle-pinned."""
    clk, err = _err_clk(spark, sf_dir)
    return asof_join(
        clk, err, on=["user_id"], left_time="click_t_ns", right_time="err_t_ns",
        direction="forward",
    )


@register(
    "asof_join_tolerance",
    survey="J8 (extension: as-of with max-staleness tolerance)",
    oracle=f"""
WITH err AS (
    SELECT user_id,
           epoch_ns(ts) AS err_t_ns,
           max(event_id) AS err_id,
           arg_max(value, event_id) AS err_value
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
),
clk AS (
    SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_t_ns, value AS click_value
    FROM events
    WHERE event_type = 'click'
)
SELECT click_id, user_id, click_t_ns, click_value,
       matched_err_t_ns, err_id, err_value
FROM (
    SELECT c.click_id, c.user_id, c.click_t_ns, c.click_value,
           e.err_t_ns AS matched_err_t_ns, e.err_id, e.err_value
    FROM clk c
    ASOF JOIN err e ON c.user_id = e.user_id AND c.click_t_ns >= e.err_t_ns
)
WHERE click_t_ns - matched_err_t_ns <= {HOUR_NS}
""",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 1-hour staleness bound (pandas
    merge_asof `tolerance`): a prior error older than the bound is no
    match at all — the semantics feature-store lookups need so stale
    features never silently join."""
    clk, err = _err_clk(spark, sf_dir)
    return asof_join(
        clk, err, on=["user_id"], left_time="click_t_ns", right_time="err_t_ns",
        tolerance=HOUR_NS,
    )
