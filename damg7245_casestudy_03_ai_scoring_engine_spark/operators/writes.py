"""Write-side operators: MERGE upsert and append-dedup (SURVEY.md
§2.1 S16–S19).

The reference upserts via Snowflake `MERGE ... ON natural keys WHEN
MATCHED UPDATE WHEN NOT MATCHED INSERT` (dimension_pipeline.py:38-74,
run_scoring_engine.py:191-258).  Without a transactional table format
in this environment, MERGE is expressed as pure DataFrame algebra —
`target ANTI JOIN source ON keys  UNION ALL  source` — which is also
exactly the shuffle shape Delta executes underneath; on a Delta
deployment these functions swap for `DeltaTable.merge` with no caller
changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import dataset_tag, session_memo, tracked_persist
from ..sources.catalog import load
from ..sources.scratch import scratch_dir
from .registry import register


def merge_upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE semantics: source wins on key match, unmatched target
    rows survive, unmatched source rows insert.  One shuffle on the
    key columns (the anti join); at scale both sides should be
    partitioned/bucketed by the keys so the join co-locates."""
    kept = target.join(source.select(*keys).distinct(), list(keys), "left_anti")
    return kept.unionByName(source)


def append_dedup(target: DataFrame, incoming: DataFrame, hash_col: str) -> DataFrame:
    """S18: insert-if-absent by content hash — the reference's
    existence probe (signal_store.py:21-28) as a left-anti join.
    Returns only the rows that should be appended."""
    return incoming.join(target.select(hash_col).distinct(), [hash_col], "left_anti")


@register(
    "merge_upsert_balances",
    survey="S17,S18,U1,J9",
    oracle="""
WITH source AS (
    SELECT c_custkey, c_mktsegment AS segment,
           round(c_acctbal + 100.0, 2) AS acctbal, 'updated' AS row_origin
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey + 1000000, 'NEWSEG', 42.0, 'inserted'
    FROM customer WHERE c_custkey % 100 = 0
),
target AS (
    SELECT c_custkey, c_mktsegment AS segment,
           round(c_acctbal, 2) AS acctbal, 'existing' AS row_origin
    FROM customer
),
merged AS (
    SELECT t.* FROM target t
    ANTI JOIN source s ON t.c_custkey = s.c_custkey
    UNION ALL
    SELECT * FROM source
)
SELECT row_origin, count(*) AS n, round(sum(acctbal), 2) AS total_bal
FROM merged
GROUP BY row_origin
""",
)
def merge_upsert_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 MERGE upsert: an update batch (BUILDING customers, +100
    balance) plus an insert batch (new synthetic keys) merged into the
    customer snapshot; rollup by row origin proves matched rows were
    replaced, unmatched kept, new rows inserted.

    Reference: app/scoring_engine/dimension_pipeline.py:38-74; schema.sql:109-120.
    """
    c = load(spark, sf_dir, "customer")
    target = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("existing").alias("row_origin"),
    )
    updates = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal"),
        F.lit("updated").alias("row_origin"),
    )
    inserts = c.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEWSEG").alias("segment"),
        F.lit(42.0).alias("acctbal"),
        F.lit("inserted").alias("row_origin"),
    )
    merged = merge_upsert(target, updates.unionByName(inserts), ["c_custkey"])
    return merged.groupBy("row_origin").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("acctbal"), 2).alias("total_bal")
    )


@register(
    "append_dedup_signals",
    survey="S16,S18,S19,F5",
    oracle="""
WITH existing AS (
    SELECT md5(text) AS content_hash FROM documents WHERE doc_id < 250
),
incoming AS (
    SELECT doc_id, md5(text) AS content_hash FROM documents
)
SELECT count(*) AS n_new,
       count(DISTINCT content_hash) AS n_new_hashes
FROM (
    SELECT i.* FROM incoming i
    ANTI JOIN existing e ON i.content_hash = e.content_hash
)
""",
)
def append_dedup_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 insert-if-absent: re-ingesting the full corpus against a
    half-loaded table appends only unseen content hashes.

    Reference: app/scoring_engine/signal_store.py:21-69, evidence_store.py:262-290.
    """
    d = load(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") < 250).select(F.md5("text").alias("content_hash"))
    incoming = d.select("doc_id", F.md5("text").alias("content_hash"))
    new = append_dedup(existing, incoming, "content_hash")
    return new.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.countDistinct("content_hash").alias("n_new_hashes"),
    )


@register(
    "scd2_apply",
    survey="S17 (extension: slowly-changing-dimension type 2)",
    oracle="""
WITH cur AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal, 2) AS acctbal,
           DATE '1990-01-01' AS effective_from,
           CAST(NULL AS DATE) AS effective_to
    FROM customer
),
changes AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal + 100.0, 2) AS acctbal
    FROM customer WHERE c_custkey % 10 = 3
),
closed AS (
    SELECT cur.key, cur.segment, cur.acctbal, cur.effective_from,
           DATE '2024-01-01' AS effective_to
    FROM cur JOIN changes ON cur.key = changes.key
),
opened AS (
    SELECT key, segment, acctbal,
           DATE '2024-01-01' AS effective_from,
           CAST(NULL AS DATE) AS effective_to
    FROM changes
),
untouched AS (
    SELECT cur.* FROM cur LEFT JOIN changes ON cur.key = changes.key
    WHERE changes.key IS NULL
)
SELECT key, segment, acctbal, effective_from, effective_to,
       effective_to IS NULL AS is_current
FROM (
    SELECT * FROM untouched
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened
)
""",
)
def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: an incoming change set closes
    the affected current rows (effective_to stamped) and opens new
    versions, leaving history immutable — the reference's MERGE
    upserts (S17) upgraded to full version retention.  Three branches
    (untouched / closed / opened) from ONE scan of the dim and one of
    the changes, unioned; on Delta this is the classic two-branch
    MERGE.  Effective dates are DATE typed — tz-free in both engines
    (a TIMESTAMP literal parses in session tz but collects in process
    tz, drifting under hostile sessions).  At 100 TB the anti/semi joins broadcast the (small) change
    set, so the dim table never shuffles."""
    c = load(spark, sf_dir, "customer")
    t90 = F.to_date(F.lit("1990-01-01"))
    t24 = F.to_date(F.lit("2024-01-01"))
    cur = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
        t90.alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
    )
    changes = (
        c.filter(F.col("c_custkey") % 10 == 3)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal"),
        )
    )
    change_keys = changes.select("key")
    closed = (
        cur.join(F.broadcast(change_keys), "key", "left_semi")
        .withColumn("effective_to", t24)
    )
    opened = changes.select(
        "key", "segment", "acctbal",
        t24.alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
    )
    untouched = cur.join(F.broadcast(change_keys), "key", "left_anti")
    out = untouched.unionByName(closed).unionByName(opened)
    return out.withColumn("is_current", F.col("effective_to").isNull())


@register(
    "scd2_snapshot_asof",
    survey="S17,P5 (extension: point-in-time snapshot from SCD2 history)",
    oracle="""
WITH cur AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal, 2) AS acctbal,
           DATE '1990-01-01' AS effective_from,
           CAST(NULL AS DATE) AS effective_to
    FROM customer
),
changes AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal + 100.0, 2) AS acctbal
    FROM customer WHERE c_custkey % 10 = 3
),
closed AS (
    SELECT cur.key, cur.segment, cur.acctbal, cur.effective_from,
           DATE '2024-01-01' AS effective_to
    FROM cur JOIN changes ON cur.key = changes.key
),
opened AS (
    SELECT key, segment, acctbal,
           DATE '2024-01-01' AS effective_from,
           CAST(NULL AS DATE) AS effective_to
    FROM changes
),
untouched AS (
    SELECT cur.* FROM cur LEFT JOIN changes ON cur.key = changes.key
    WHERE changes.key IS NULL
),
hist AS (
    SELECT * FROM untouched
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened
),
snap AS (
    SELECT * FROM hist
    WHERE effective_from <= DATE '2020-06-15'
      AND (effective_to IS NULL OR effective_to > DATE '2020-06-15')
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(acctbal), 2) AS total_bal
FROM snap
GROUP BY segment
""",
)
def scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction from SCD2 history: the dimension
    AS OF 2020-06-15 is every version whose validity interval covers
    that date — exactly one row per key, pre-change values (the 2024
    update is invisible).  This is the query that makes retaining
    history worth it: training-data snapshots and report re-runs are
    reproducible at any past date with one predicate."""
    hist = scd2_apply(spark, sf_dir)
    asof = F.to_date(F.lit("2020-06-15"))
    snap = hist.filter(
        (F.col("effective_from") <= asof)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > asof))
    )
    return snap.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("acctbal"), 2).alias("total_bal"),
    )


@register(
    "scd2_temporal_join",
    survey="S17,J8 (extension: fact joined to dim version valid at fact time)",
    oracle="""
WITH cur AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal, 2) AS acctbal,
           DATE '1990-01-01' AS effective_from,
           CAST(NULL AS DATE) AS effective_to
    FROM customer
),
changes AS (
    SELECT c_custkey AS key, c_mktsegment AS segment,
           round(c_acctbal + 100.0, 2) AS acctbal
    FROM customer WHERE c_custkey % 10 = 3
),
hist AS (
    SELECT cur.key, cur.segment, cur.acctbal, cur.effective_from,
           DATE '2024-01-01' AS effective_to
    FROM cur JOIN changes ON cur.key = changes.key
    UNION ALL
    SELECT key, segment, acctbal, DATE '2024-01-01', CAST(NULL AS DATE)
    FROM changes
    UNION ALL
    SELECT cur.* FROM cur LEFT JOIN changes ON cur.key = changes.key
    WHERE changes.key IS NULL
)
SELECT h.segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(h.acctbal), 2) AS sum_dim_bal,
       round(sum(o.o_totalprice), 2) AS sum_order_total
FROM orders o
JOIN hist h
  ON o.o_custkey = h.key
 AND CAST(o.o_orderdate AS DATE) >= h.effective_from
 AND (h.effective_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.effective_to)
GROUP BY h.segment
""",
)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal join: every order matched to the customer VERSION that
    was valid on its order date (from <= t < to) — the query SCD2
    history exists to serve, giving reports the attributes as they
    were, not as they are.  Each fact row matches exactly one version
    by interval disjointness.

    Scale shape: an equi-join on the key with the interval predicate
    as a join filter — versions per key are few, so the fan-out is
    bounded; the dim side is the small one and broadcasts."""
    hist = scd2_apply(spark, sf_dir).select(
        "key", "segment", "acctbal", "effective_from", "effective_to"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("odate"), "o_totalprice"
    )
    j = o.join(
        F.broadcast(hist),
        (o.o_custkey == hist.key)
        & (F.col("odate") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("odate") < F.col("effective_to"))),
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("acctbal"), 2).alias("sum_dim_bal"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_order_total"),
    )


_SHARD_MAX_RECORDS = 200


@register(
    "sized_output_sharding",
    survey="S21 (extension: size-targeted partitioned sink layout)",
    oracle=f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(ceil(count(*) / {_SHARD_MAX_RECORDS}.0) AS BIGINT) AS n_files
FROM documents
GROUP BY lang
""",
)
def sized_output_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted partitioned sink: write `documents` partitioned
    by lang with `maxRecordsPerFile` capping each file, then report
    the ACTUAL on-disk layout (files per partition directory).  The
    oracle predicts the layout arithmetically — ceil(rows/cap) — so
    the check proves the writer sharding contract, not just the row
    counts.  Rows are hash-clustered per lang first (one writer task
    owns each lang), which is what makes the file count deterministic.

    The 100 TB point: output-file sizing is the knob that keeps a
    petabyte sink from producing millions of tiny files (or 100 GB
    ones) — `repartition(keys) + partitionBy(keys) + maxRecordsPerFile`
    is the standard layout-control recipe this query pins.

    The layout audit reads the files back and counts DISTINCT
    `input_file_name()` per partition value — works against any
    Hadoop filesystem (the executors may not share the driver's local
    disk), unlike a driver-side directory listing."""
    out = scratch_dir("shard_sink_")
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    (
        d.repartition("lang")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _SHARD_MAX_RECORDS)
        .partitionBy("lang")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .withColumn("_file", F.input_file_name())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("_file").cast("bigint").alias("n_files"),
        )
        .select("lang", "n_rows", "n_files")
    )


@register(
    "versioned_snapshot_diff",
    survey="S17,S20 (extension: time-travel diff across MERGE versions)",
    oracle="""
WITH v0 AS (
    SELECT c_custkey AS k, round(c_acctbal, 2) AS bal
    FROM customer WHERE c_custkey % 3 = 0
),
src AS (
    SELECT c_custkey AS k, round(c_acctbal + 100.0, 2) AS bal
    FROM customer WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey + 1000000 AS k, round(c_acctbal, 2) AS bal
    FROM customer WHERE c_custkey % 10 = 0
),
v1 AS (
    SELECT k, bal FROM v0 WHERE k NOT IN (SELECT k FROM src)
    UNION ALL
    SELECT k, bal FROM src
),
j AS (
    SELECT coalesce(a.k, b.k) AS k, a.bal AS bal0, b.bal AS bal1
    FROM v0 a FULL OUTER JOIN v1 b ON a.k = b.k
)
SELECT CASE WHEN bal0 IS NULL THEN 'inserted'
            WHEN bal1 IS NULL THEN 'deleted'
            WHEN bal0 <> bal1 THEN 'updated'
            ELSE 'unchanged' END AS change,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(coalesce(bal1, bal0)), 2) AS bal_total
FROM j
GROUP BY 1
""",
)
def versioned_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel made queryable: seed a versioned table (manifest-log
    format, `sources/versioned.py`) with a deterministic customer
    snapshot, run a snapshot-isolated `transactional_merge` (updates
    for every 6th key, inserts above 1e6 for every 10th), then diff
    `read(version=0)` against `read(version=1)` with a full outer join
    — the inserted/updated/unchanged census an auditor asks of any
    Delta-style table.  Both versions stay readable AFTER the merge;
    that is the property the oracle reconstructs relationally.

    Scale shape: version reads are plain parquet scans behind the
    manifest; the diff is one full-outer hash join on the key."""
    from ..sources.versioned import VersionedTable, transactional_merge

    c = load(spark, sf_dir, "customer")
    v0_df = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"), F.round("c_acctbal", 2).alias("bal")
    )
    src = (
        c.filter(F.col("c_custkey") % 6 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("bal"),
        )
        .unionAll(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("k"),
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    table = VersionedTable(scratch_dir("versioned_diff_"))
    table.write(v0_df, mode="overwrite")
    transactional_merge(table, src, ["k"])
    v0 = table.read(spark, version=0).select("k", F.col("bal").alias("bal0"))
    v1 = table.read(spark, version=1).select("k", F.col("bal").alias("bal1"))
    j = v0.join(v1, "k", "full_outer")
    change = (
        F.when(F.col("bal0").isNull(), F.lit("inserted"))
        .when(F.col("bal1").isNull(), F.lit("deleted"))
        .when(F.col("bal0") != F.col("bal1"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(change.alias("change")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum(F.coalesce("bal1", "bal0")), 2).alias("bal_total"),
    )


@register(
    "schema_evolution_scan",
    survey="S15 (extension: mergeSchema read across file generations)",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_gen2,
       CAST(sum(CASE WHEN gen = 2 THEN n_chars ELSE 0 END) AS BIGINT)
           AS gen2_chars
FROM (
    SELECT source, n_chars,
           CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS gen
    FROM documents
)
GROUP BY source
""",
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution round trip: generation-1 files are written
    WITHOUT the `quality_gen` column, generation-2 files WITH it;
    a `mergeSchema` read unifies both (gen-1 rows surface NULL for
    the late column) and the query aggregates across generations —
    the additive-column migration every long-lived lake table goes
    through, proven against an oracle computed from the ORIGINAL
    table (so the write→evolve→read→aggregate loop must be lossless).

    The 100 TB point: additive evolution means NO rewrite of old
    files — readers reconcile footers; only the changed aggregate
    logic (NULL-tolerant) ships.  Writes are hash-clustered per
    generation so the layout is deterministic.
    """
    tag = dataset_tag(sf_dir)

    def build() -> str:
        out = scratch_dir(f"schema_evo_{tag}_")
        d = load(spark, sf_dir, "documents")
        gen2_flag = (F.col("doc_id") % 3) == 0
        g1 = d.filter(~gen2_flag).select("doc_id", "source", "n_chars")
        g2 = (
            d.filter(gen2_flag)
            .select(
                "doc_id",
                "source",
                "n_chars",
                F.lit(2).cast("long").alias("quality_gen"),
            )
        )
        g1.coalesce(1).write.mode("append").parquet(out)
        g2.coalesce(1).write.mode("append").parquet(out)
        return out

    merged = spark.read.option("mergeSchema", "true").parquet(
        session_memo(spark, f"layout.schema_evo.{tag}", build)
    )
    return (
        merged.withColumn(
            "gen", F.coalesce(F.col("quality_gen"), F.lit(1)).cast("long")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("gen") == 2).cast("long")).alias("n_gen2"),
            F.sum(
                F.when(F.col("gen") == 2, F.col("n_chars")).otherwise(0)
            ).alias("gen2_chars"),
        )
    )


@register(
    "cdc_apply_latest",
    survey="S17,W1 (extension: CDC change-feed compaction with deletes)",
    oracle="""
WITH feed AS (
    SELECT l_orderkey AS key, l_linenumber AS seq,
           CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                THEN 'D' ELSE 'U' END AS op,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
),
latest AS (
    SELECT key, seq, op, cents,
           row_number() OVER (PARTITION BY key
                              ORDER BY seq DESC, op, cents) AS rn,
           CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_changes
    FROM feed
)
SELECT key AS orderkey, cents AS latest_cents, n_changes,
       CAST(seq AS BIGINT) AS latest_seq
FROM latest WHERE rn = 1 AND op <> 'D'
""",
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed compaction: a synthesized per-order change
    stream (lineitems as sequenced upserts, returned-and-finalized
    lines as DELETE markers) materialized to final table state by
    the latest-wins rule — keys whose LAST operation is a delete
    vanish entirely.  This is the log-to-table step every
    Debezium/lakehouse ingestion pipeline runs, and the asymmetry it
    must get right (a delete followed by a later upsert RESURRECTS
    the key; an upsert followed by a delete removes it) falls out of
    ranking on the full feed before filtering, never filtering
    first.  The fixture's (order, linenumber) pairs are NOT unique,
    so the rank's tie-break covers every emitted field (op, cents) —
    residual ties are value-identical by construction.

    Scale shape: one key-partitioned window over the feed (rank +
    count share the partitioning).  In production the same plan runs
    incrementally per micro-batch with the persisted state as the
    base generation — the merge_upsert/SCD2 family's contract.
    """
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    feed = li.select(
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").alias("seq"),
        F.when(
            (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"),
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    by_key = Window.partitionBy("key")
    latest = feed.select(
        "key",
        "seq",
        "op",
        "cents",
        F.row_number()
        .over(by_key.orderBy(F.desc("seq"), F.asc("op"), F.asc("cents")))
        .alias("rn"),
        F.count(F.lit(1)).over(by_key).cast("long").alias("n_changes"),
    )
    return latest.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        F.col("key").alias("orderkey"),
        F.col("cents").alias("latest_cents"),
        "n_changes",
        F.col("seq").cast("long").alias("latest_seq"),
    )


# --- incremental aggregate maintenance --------------------------------------


@register(
    "incremental_agg_merge",
    survey="S17,A1 (extension: incremental rollup maintenance)",
    oracle="""
SELECT user_id, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       max(event_id) AS hwm_event_id
FROM events
WHERE value IS NOT NULL
GROUP BY user_id, event_type
""",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the gold aggregate is updated
    by merging the stored base aggregate with the DELTA batch's
    partial aggregate — `union → re-aggregate` over the algebraic
    states (count-sum / cents-sum / max high-water mark) — instead of
    rescanning base facts.  The DuckDB oracle recomputes the rollup
    FROM SCRATCH over all events, so driver green literally proves
    incremental == full rebuild, the invariant every materialized-view
    maintenance engine (Delta Live Tables, Snowflake dynamic tables)
    must hold.

    At 100 TB this is THE pattern that keeps gold tables current: the
    merge touches |delta| + |affected groups| rows, never the base
    facts — here base is built from ts < cutoff to simulate the stored
    table (persisted, exactly as gold would be), delta from
    ts ≥ cutoff.  Only algebraic aggregates qualify (sum/count/max
    merge associatively); the high-water-mark column doubles as the
    idempotence guard a real CDC consumer would use.  Reference
    analog: run_scoring_engine.py re-scores ALL companies per run —
    this is the maintenance path that avoids exactly that."""
    from ..sources.catalog import ns

    ev = load(spark, sf_dir, "events", fan_out=True).filter(
        F.col("value").isNotNull()
    )
    cutoff = ns("2024-01-24")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
            F.max("event_id").alias("hwm_event_id"),
        )
    # the stored gold table: persisted so the merge provably never
    # re-reads base facts (the delta branch is the only events scan
    # in the merged plan once the cache is materialized)
    base = tracked_persist(
        partial(ev.filter(F.col("ts") < F.lit(cutoff))),
        "incremental_agg.base",
    )
    delta = partial(ev.filter(F.col("ts") >= F.lit(cutoff)))
    return (
        base.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_cents").cast("bigint").alias("value_cents"),
            F.max("hwm_event_id").alias("hwm_event_id"),
        )
    )
