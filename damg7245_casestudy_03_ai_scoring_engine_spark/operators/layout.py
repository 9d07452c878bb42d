"""Storage-layout operators: bucketed co-located joins and
partition-pruned scans (SURVEY.md §4 physical-execution posture; the
two layout levers that matter most at 100 TB).

The reference's Snowflake warehouse gets clustering/pruning for free
from micro-partitions (reference app/db/schema.sql table DDLs carry no
explicit clustering — Snowflake does it implicitly).  On Spark the
equivalent levers are explicit and these queries exercise both, each
with a plan pin in tests/test_plans.py proving the layout actually
changed the physical plan:

- **Bucketing** (`bucketBy` + `sortBy` on the join key): both fact
  tables pre-hashed into the same number of buckets on the join key,
  so the sort-merge join reads co-located buckets with NO Exchange on
  either side.  At 100 TB this converts the biggest shuffle in the
  workload (orders ⋈ lineitem) into a shuffle-free zip of bucket
  pairs — the Spark analog of the co-located join every MPP warehouse
  does on distribution keys.
- **Partition pruning** (hive-style `partitionBy` directory layout):
  a month-partitioned fact + a month filter scans only the matching
  directories (static pruning), and a join against a filtered month
  dim prunes at RUNTIME via dynamic partition pruning (the
  `dynamicpruningexpression` subquery) — only the dim's surviving
  months are ever read from the fact.

Layout builds are memoized per (session, sf_dir) under the process
scratch root: the write happens once, every query run after that is
pure read — mirroring production where layout is an ingest-time cost
amortized over every downstream query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import dataset_tag, session_memo, tracked_persist
from ..functions.core import round_stable_sql
from ..sources.catalog import load, read_parquet_memo
from ..sources.scratch import scratch_dir
from .registry import register

N_BUCKETS = 8

# Exact revenue arithmetic (the float-hygiene posture, see
# tests/test_oracle_parity.py lint): l_extendedprice has 2 decimals
# and l_discount has 2 decimals, so revenue·10^4 is an exact integer.
# Summing LONGS is order-independent across any partitioning; ONE
# final IEEE division + round_stable_sql is bit-identical in every engine.
_REV_ORACLE = (
    "floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)"
    " / 10000.0) * 100.0 + 0.5) / 100.0"
)


def _rev_exact() -> F.Column:
    return F.expr(
        round_stable_sql(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0D",
            2,
        )
    )


# --- bucketed co-located join ----------------------------------------------


def _bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """Write (once) and read back `name` bucketed+sorted on `key`.

    The table is registered in the session catalog (bucketing metadata
    lives in the catalog, so a plain path read would NOT see the
    bucket spec) with an explicit external LOCATION under the scratch
    root — independent of whatever warehouse dir the driver's session
    was built with."""
    tbl = f"bkt_{name}_{dataset_tag(sf_dir)}"
    if not spark.catalog.tableExists(tbl):
        path = scratch_dir(f"bucketed_{name}_")
        (
            load(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(path, tbl))
            .format("parquet")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)


@register(
    "bucketed_colocated_join",
    survey="J2,A1 (bucketed co-located scale path)",
    bench=True,
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       count(*) AS n_items,
       {_REV_ORACLE} AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 on bucketed layout: orders and lineitem both bucketed into
    the same number of buckets on the order key, so the fact-fact
    sort-merge join is CO-LOCATED — no Exchange on either join side
    (plan-pinned in tests/test_plans.py).  This is the layout the
    100 TB deployment would bake into bronze: the workload's biggest
    shuffle, paid once at ingest instead of per-query.

    Reference J2: scores ⋈ scoring_runs fact-fact equi-join
    (app/routers/scoring.py:306-318); same shape, Spark-first layout.
    """
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    # At 100 TB neither side broadcasts — SMJ is the real physical
    # choice; the merge hint makes the test-scale plan show the same
    # shape (otherwise AQE broadcasts the tiny test orders side and
    # the co-location being pinned never appears in the plan).
    return (
        li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _rev_exact().alias("revenue"),
        )
    )


# --- partition pruning (static + dynamic) ----------------------------------


def _month_partitioned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write (once) lineitem hive-partitioned by ship month; read back
    via directory discovery so `ship_month` is a PARTITION column and
    month predicates become directory pruning, not data filters."""
    tag = dataset_tag(sf_dir)

    def build() -> str:
        path = scratch_dir(f"lineitem_bymonth_{tag}_")
        (
            load(spark, sf_dir, "lineitem")
            .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(path)
        )
        return path

    return read_parquet_memo(
        spark, session_memo(spark, f"layout.lineitem_month.{tag}", build)
    )


@register(
    "partition_pruned_scan",
    survey="P5,S15 (partition-pruned layout scale path)",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_items,
       {_REV_ORACLE} AS revenue
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') = '1997-03'
GROUP BY l_returnflag
""",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 on partitioned layout: the time-window predicate hits a
    PARTITION column, so Spark lists only the `ship_month=1997-03`
    directory — at 100 TB with daily partitions this is the difference
    between scanning one day and scanning three years.  Plan-pinned:
    PartitionFilters non-empty, no ship_month predicate left in the
    post-scan Filter."""
    li = _month_partitioned_lineitem(spark, sf_dir)
    return (
        li.filter(F.col("ship_month") == "1997-03")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _rev_exact().alias("revenue"),
        )
    )


# 24-month calendar dim (1996-01 .. 1997-12) with a quarter attribute;
# tiny → broadcast; the DPP filter arrives via the ATTRIBUTE, not the
# join key, so only runtime pruning can skip fact partitions.
_MONTH_DIM = [
    (f"{y}-{m:02d}", f"{y}Q{(m - 1) // 3 + 1}")
    for y in (1996, 1997)
    for m in range(1, 13)
]
_MONTH_DIM_VALUES = ", ".join(f"('{mo}', '{q}')" for mo, q in _MONTH_DIM)


# --- Z-order (space-filling-curve) layout ----------------------------------

_Z_BITS = 16  # 16 bits per dimension → 32-bit Morton code


def _interleave_sql(xcol: str, ycol: str) -> str:
    """SQL for the 2-D Morton (Z) code of two 16-bit ints: bit i of x
    lands at position 2i, bit i of y at 2i+1.  Bits never overlap, so
    `+` is `|` and the whole thing is one codegen-friendly integer
    expression — no UDF, no loop at runtime."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(shiftleft(shiftright({xcol}, {i}) & 1, {2 * i}))")
        terms.append(f"(shiftleft(shiftright({ycol}, {i}) & 1, {2 * i + 1}))")
    return " + ".join(terms)


def _zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-ordered events layout (`_zorder_events_path`), read back
    through the memoized reader."""
    return read_parquet_memo(spark, _zorder_events_path(spark, sf_dir))


def _zorder_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) events Z-ORDERED on (user_id, ts): both dims are
    scaled to 16-bit grid cells, bit-interleaved into a Morton code,
    then range-repartitioned + sorted on the code.  Nearby Z values
    are nearby in BOTH dimensions, so every output file's parquet
    row-group min/max stats are tight on user_id AND ts at once —
    a 2-D box predicate skips most files on either dim (the Delta
    OPTIMIZE ZORDER layout, hand-rolled with repartitionByRange;
    tests/test_sources.py asserts the per-file stats tightness).

    The grid min/max scalars come from one tiny driver-side aggregate
    at BUILD time only (layout construction, amortized like the
    bucketed tables above — query-time reads never touch the driver).
    """
    tag = dataset_tag(sf_dir)

    def build() -> str:
        # events.ts is int64 NANOSECONDS by repo contract
        # (sources/catalog.py normalize_events_ts); scale to seconds
        # BEFORE multiplying by the grid so (span_s · 65535) stays far
        # inside int64 — (span_ns · 65535) would overflow for any
        # range longer than ~52 hours.
        ev = load(spark, sf_dir, "events")
        lo_u, hi_u, lo_t, hi_t = ev.agg(
            F.min("user_id"),
            F.max("user_id"),
            F.min(F.col("ts") / F.lit(1_000_000_000)).cast("bigint"),
            F.max(F.col("ts") / F.lit(1_000_000_000)).cast("bigint"),
        ).first()
        span_u = max(int(hi_u) - int(lo_u), 1)
        span_t = max(int(hi_t) - int(lo_t), 1)
        grid = (1 << _Z_BITS) - 1
        ux = f"CAST((user_id - {int(lo_u)}) * {grid} / {span_u} AS BIGINT)"
        ty = (
            f"CAST((CAST(ts / 1000000000 AS BIGINT) - {int(lo_t)})"
            f" * {grid} / {span_t} AS BIGINT)"
        )
        path = scratch_dir(f"events_zorder_{tag}_")
        (
            ev.withColumn("zval", F.expr(_interleave_sql(ux, ty)))
            .repartitionByRange(16, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    return session_memo(spark, f"layout.events_zorder.{tag}", build)


@register(
    "zorder_layout_scan",
    survey="P5,S15 (Z-order multi-dimensional clustering scale path)",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE user_id BETWEEN 3 AND 60
  AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
GROUP BY event_type
""",
)
def zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box query on the Z-ordered events layout: a user-range ×
    time-range predicate over data clustered on the Morton code of
    both columns.  Single-column sorting makes one dim skippable and
    the other useless; Z-order makes BOTH selective — at 100 TB the
    scan reads the few files whose (user, time) rectangles intersect
    the box instead of every file in the time range.  Results are
    layout-invariant (oracle runs on the unclustered original); both
    predicates are pinned as PushedFilters in tests/test_plans.py.

    Reference analog: Snowflake micro-partition pruning on clustered
    tables (implicit in app/db/schema.sql DDL); Spark needs the
    layout spelled out."""
    from ..sources.catalog import ns

    ev = _zorder_events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("user_id") >= 3)
            & (F.col("user_id") <= 60)
            & (F.col("ts") >= F.lit(ns("2024-01-08")))
            & (F.col("ts") < F.lit(ns("2024-01-15")))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )


@register(
    "dynamic_partition_pruned_join",
    survey="J1,P5 (dynamic partition pruning scale path)",
    bench=True,
    oracle=f"""
WITH month_dim(ship_month, quarter) AS (VALUES {_MONTH_DIM_VALUES})
SELECT d.quarter,
       count(*) AS n_items,
       {_REV_ORACLE} AS revenue
FROM lineitem l
JOIN month_dim d ON strftime(l.l_shipdate, '%Y-%m') = d.ship_month
WHERE d.quarter = '1997Q1'
GROUP BY d.quarter
""",
)
def dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the month-partitioned fact joins a
    broadcast calendar dim filtered on an attribute (quarter).  The
    months surviving the dim filter are only known at runtime, so
    Catalyst plants a `dynamicpruningexpression` subquery in the fact
    scan's PartitionFilters — the fact reads 3 of 24 month directories
    without any static month predicate in the query (plan-pinned).
    At 100 TB this is how every fact ⋈ filtered-dim query avoids the
    full scan."""
    li = _month_partitioned_lineitem(spark, sf_dir)
    dim = spark.createDataFrame(_MONTH_DIM, "ship_month string, quarter string")
    return (
        li.join(F.broadcast(dim), "ship_month")
        .filter(F.col("quarter") == "1997Q1")
        .groupBy("quarter")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _rev_exact().alias("revenue"),
        )
    )


# --- per-file Bloom index (Delta-style file skipping for point keys) -------

_BLOOM_K = 4
_BLOOM_BITS_PER_KEY = 10  # the standard ~1%-FPP sizing
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 22  # 512 KiB/file word array — stats-file territory
# Saturation bound: with k hashes and m bits a file of n distinct keys
# has expected fill 1−exp(−k·n/m); past ~50% fill the false-positive
# rate (fill^k) stops skipping files and the index silently degrades to
# reading every file (correct — the residual equality filter still
# runs — but pointless IO).  m is therefore SIZED from the layout
# (~10 bits per expected key per file, next power of two) instead of
# being a fixed constant, and the index carries per-file `n_keys` /
# `fill_frac` columns so saturation stays VISIBLE: tests pin
# fill_frac < _BLOOM_FILL_MAX at fixture scale.
_BLOOM_FILL_MAX = 0.5
_LOOKUP_EVENT_ID = 4242


def _bloom_positions(col: F.Column, bits: int) -> list[F.Column]:
    """k bit positions for a key: xxhash64(key, seed j) mod m.
    pmod (not %) — xxhash64 is signed.  Callers must cast the key to
    'long' first: xxhash64 hashes the binary encoding, so int32 4242
    and int64 4242 hash differently, and an untyped build against a
    typed probe would turn every lookup into a false NEGATIVE."""
    return [
        F.pmod(F.xxhash64(col, F.lit(j)), F.lit(bits))
        for j in range(_BLOOM_K)
    ]


def _bloom_bits_for(n_rows: int, n_files: int) -> int:
    """Filter width for a layout: ~10 bits per expected key per file,
    rounded up to a power of two, clamped to [2^10, 2^22]."""
    per_file = max(n_rows // max(n_files, 1), 1)
    bits = _BLOOM_MIN_BITS
    while bits < per_file * _BLOOM_BITS_PER_KEY and bits < _BLOOM_MAX_BITS:
        bits <<= 1
    return bits


def bloom_member(positions: list[int]) -> F.Column:
    """Plan-side membership predicate over the index's `words` array:
    bit p%64 of word p//64 must be set for every probe position."""
    member = F.lit(True)
    for p in positions:
        word = F.element_at(F.col("words"), int(p // 64) + 1)
        member = member & (
            F.shiftright(word, int(p % 64)).bitwiseAND(F.lit(1)) == 1
        )
    return member


def build_file_bloom_index(base: DataFrame, bits: int) -> DataFrame:
    """Per-file Bloom rows from a (file, key) frame — one distributed
    pass keyed on the file column, every step a key-local aggregate
    with map-side combine.  Factored out so the index is APPENDABLE:
    each output row depends ONLY on its own file's keys (and the
    fixed filter width), so indexing newly-arrived files and unioning
    onto the existing index table is EXACTLY equal to a full rebuild —
    the maintenance path a 100 TB table needs on every append (pinned
    by tests/test_sources.py::test_bloom_index_incremental_append).
    The width is fixed per index generation: resizing means a rebuild,
    exactly like Delta/Iceberg stats schema changes."""
    n_words = bits // 64
    exploded = base.distinct().select(
        "file",
        F.explode(F.array(*_bloom_positions(F.col("key"), bits))).alias("p"),
    )
    # bit_or (never +) per word: two seeds can land a key on the
    # SAME bit, and addition would carry into a different bit,
    # turning the membership probe into a false NEGATIVE.
    per_word = exploded.groupBy(
        "file", F.shiftright(F.col("p"), 6).cast("int").alias("widx")
    ).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.col("p").bitwiseAND(F.lit(63)).cast("int"),
            )
        ).alias("word"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    wm = F.map_from_entries(F.collect_list(F.struct("widx", "word")))
    return (
        per_word.groupBy("file")
        .agg(
            wm.alias("wm"),
            # exploded has exactly k rows per distinct key, so the
            # per-file distinct-key count falls out of the same
            # aggregate — no second pass over the data
            (F.sum("n_pos") / F.lit(_BLOOM_K)).cast("long").alias("n_keys"),
        )
        .select(
            "file",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("wm"), i.cast("int")),
                    F.lit(0).cast("long"),
                ),
            ).alias("words"),
            "n_keys",
        )
        .withColumn(
            "fill_frac",
            F.round(
                F.aggregate(
                    "words",
                    F.lit(0).cast("long"),
                    lambda acc, w: acc + F.bit_count(w),
                ).cast("double")
                / F.lit(bits),
                4,
            ),
        )
    )


def append_file_bloom_index(
    old_index: DataFrame, new_base: DataFrame, bits: int
) -> DataFrame:
    """Incremental index maintenance: index ONLY the newly-arrived
    files and union onto the existing index table.  Per-file rows are
    independent given a fixed width, so this equals a full rebuild
    bit for bit while touching none of the old data.

    The width is a per-GENERATION invariant: appending rows built at
    a different width would silently produce a mixed-width index
    whose probes (which address word p//64, bit p%64 for positions
    hashed mod the CALLER's bits) read the wrong bits in the old rows
    — membership false negatives, i.e. wrong query results, not just
    wasted IO.  So the append audits the existing generation's word
    widths first (one aggregate over the file-grain index — ≈1 row
    per data file, trivially cheap even at 100 TB) and fails loudly
    on mismatch; resizing is an explicit rebuild, decided by
    `bloom_rebuild_decision`."""
    n_words = bits // 64
    widths = old_index.agg(
        F.min(F.size("words")).alias("lo"),
        F.max(F.size("words")).alias("hi"),
    ).first()
    if widths["lo"] is not None and not (widths["lo"] == widths["hi"] == n_words):
        raise ValueError(
            f"bloom index width mismatch: existing generation has "
            f"{widths['lo']}..{widths['hi']} words/row, append requested "
            f"{n_words} ({bits} bits) — rebuild the index at the new "
            f"width instead of appending"
        )
    return old_index.unionByName(build_file_bloom_index(new_base, bits))


def bloom_rebuild_decision(
    index: DataFrame, bits: int, fill_threshold: float = _BLOOM_FILL_MAX
) -> dict:
    """Saturation contract for an append-maintained index generation.

    `append_file_bloom_index` keeps the original width forever, so a
    long append stream of ever-denser files drives per-file
    `fill_frac` toward 1 and the expected false-positive rate
    (≈ fill^k) toward 1: the index stays CORRECT (membership is a
    superset — the residual equality filter still runs on whatever is
    read) but silently stops skipping files.  This function is the
    explicit rebuild trigger: one aggregate over the file-grain index
    computing the median fill and the per-file key load, returning

      {"median_fill": float, "rebuild": bool, "next_bits": int}

    rebuild fires when the MEDIAN fill exceeds `fill_threshold`
    (median, not max — one dense straggler file shouldn't force a
    full re-index); `next_bits` re-sizes from the observed per-file
    key counts at the standard ~10 bits/key so the rebuilt generation
    lands back under the threshold.  At 100 TB the decision reads
    only the index table (≈1 row per file), never the data."""
    stats = index.agg(
        F.expr("median(fill_frac)").alias("median_fill"),
        F.expr(
            "cast(percentile(n_keys, 0.5) as bigint)"
        ).alias("median_keys"),
        F.max("n_keys").alias("max_keys"),
        F.count(F.lit(1)).alias("n_files"),
    ).first()
    median_fill = float(stats["median_fill"] or 0.0)
    rebuild = median_fill > fill_threshold
    next_bits = bits
    at_cap = False
    if rebuild:
        # size for the CURRENT generation's observed per-file load
        next_bits = _bloom_bits_for(
            int(stats["median_keys"] or 0) * int(stats["n_files"] or 1),
            int(stats["n_files"] or 1),
        )
        while next_bits <= bits and next_bits < _BLOOM_MAX_BITS:
            next_bits <<= 1
        if next_bits <= bits:
            # the generation is already at _BLOOM_MAX_BITS: rebuilding
            # at the same width cannot reduce saturation, so don't
            # recommend a futile rebuild loop — surface the capped
            # state instead (the caller's escape hatch is splitting
            # files / partitioning keys, not a wider filter)
            at_cap = True
            rebuild = False
            next_bits = bits
    return {
        "median_fill": median_fill,
        "rebuild": rebuild,
        "next_bits": next_bits,
        "at_cap": at_cap,
    }


def _file_bloom_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Build (once) a per-FILE Bloom index over event_id for the
    Z-ordered events layout: one row per data file — a `words` array of
    bit_or-folded 64-bit words plus `n_keys` (exact distinct) and
    `fill_frac` (fraction of set bits) for saturation visibility.
    Returns (index DataFrame, filter width in bits).

    This is the Delta/Iceberg secondary-stats pattern: the index is
    file-grain (~1 row per file — ~10⁶ rows even for a 100 TB table,
    itself a small TABLE, never a driver-side list), built in one
    distributed pass over the layout, and consulted BEFORE any data
    IO.  Build shape: distinct (file, key) pairs → explode the k hash
    positions → bit_or per (file, word) → assemble the word array per
    file — every step a key-local aggregate with map-side combine, no
    per-word CASE ladder in the plan regardless of filter width.
    Self-sufficient: builds the Z-order layout if this session hasn't
    yet; the filter width is sized from the layout's row/file counts
    (parquet metadata — no data scan) at ~10 bits/key."""
    tag = dataset_tag(sf_dir)

    def build() -> tuple[DataFrame, int]:
        ev = _zorder_events(spark, sf_dir)
        bits = _bloom_bits_for(ev.count(), len(ev.inputFiles()))

        base = ev.select(
            F.input_file_name().alias("file"),
            F.col("event_id").cast("long").alias("key"),
        )
        idx = build_file_bloom_index(base, bits)
        return tracked_persist(idx, f"layout.bloomidx.{tag}"), bits

    return session_memo(spark, f"layout.bloomidx.{tag}", build)


@register(
    "file_bloom_index_lookup",
    survey="S15,P3 (extension: per-file Bloom index point lookup)",
    oracle=f"""
SELECT event_id, user_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS value_cents
FROM events
WHERE event_id = {_LOOKUP_EVENT_ID}
""",
)
def file_bloom_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through a per-file Bloom index: event_id is NOT a
    sort/cluster key of the Z-ordered layout, so min/max stats cannot
    skip files for it — the Bloom index can.  The lookup hashes the
    probe key (k=4, m=1024 bits), selects the files whose Bloom words
    contain all k bits (a file-grain index scan — the index is tiny,
    one row per file, so consulting it driver-side is the same move
    every lakehouse makes), and reads ONLY those files.

    tests/test_sources.py pins the skipping: the probe must select a
    strict subset of files, and the final answer is oracle-checked
    against the unindexed table — Bloom false positives cost extra
    reads, never wrong results (the residual equality filter runs on
    whatever is read).

    At 100 TB: the index build is one map-side-combined aggregate
    keyed on input_file_name(); the index table (≈1 row per file)
    lives next to the data AS A TABLE — the membership probe is a
    column-expression filter over that DataFrame, and only the
    matching file paths (the 1-2 true files plus Bloom false
    positives) are ever collected, never the index itself.  Reference
    analog: content_hash existence probe (signal_store.py:21-28) —
    the pattern that makes dedup-before-insert cheap."""
    import pyspark.sql.functions as _F

    idx, bits = _file_bloom_index(spark, sf_dir)

    # hash the probe key exactly as the index build did (driver-side
    # arithmetic mirror of xxhash64 is NOT attempted — we reuse Spark
    # for the 1-row hash so the two sides can never drift)
    probe = (
        spark.range(1)
        .select(*[
            p.alias(f"p{j}")
            for j, p in enumerate(
                _bloom_positions(F.lit(_LOOKUP_EVENT_ID).cast("long"), bits)
            )
        ])
        .first()
    )
    positions = [probe[f"p{j}"] for j in range(_BLOOM_K)]

    # membership test stays in the plan: bit p of word p//64 must be
    # set for all k probe positions (positions are plain int literals,
    # so this is a JVM-side filter over the tiny index table)
    member = bloom_member(positions)
    paths = [r["file"] for r in idx.filter(member).select("file").collect()]
    ev_schema = load(spark, sf_dir, "events").schema
    out_cols = [
        "event_id",
        "user_id",
        "event_type",
        _F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    ]
    if not paths:  # key provably absent: no data IO at all
        return (
            spark.createDataFrame([], ev_schema)
            .select(*out_cols)
        )
    return (
        spark.read.parquet(*paths)
        .filter(F.col("event_id") == _LOOKUP_EVENT_ID)
        .select(*out_cols)
    )


# --- compaction planning (lakehouse OPTIMIZE, metadata-only) ---------------

_COMPACT_TARGET_ROWS = 100_000


@register(
    "compaction_plan_bins",
    survey="S15,S21 (extension: metadata-only compaction planner)",
    oracle=f"""
WITH stats AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, count(*) AS n_rows
    FROM lineitem GROUP BY 1
),
packed AS (
    SELECT ship_month, CAST(n_rows AS BIGINT) AS n_rows,
           CAST((sum(n_rows) OVER (ORDER BY ship_month
                                   ROWS UNBOUNDED PRECEDING) - n_rows)
                // {_COMPACT_TARGET_ROWS} AS BIGINT) AS bin_id
    FROM stats
)
SELECT ship_month, n_rows, bin_id,
       CAST(sum(n_rows) OVER (PARTITION BY bin_id) AS BIGINT) AS bin_rows,
       CAST(count(*) OVER (PARTITION BY bin_id) AS BIGINT) AS bin_files
FROM packed
""",
)
def compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse OPTIMIZE planning: pack small adjacent month
    partitions into compaction bins by a cumulative row budget —
    `bin_id = floor(running_rows_before / target)` over the
    partition-key order, so each bin holds ~target rows of
    partition-adjacent data (rewrites stay partition-local and
    clustering survives the compaction, the same policy Delta's
    OPTIMIZE and Iceberg's binpack rewrite use).

    The PLAN is the output — (partition, bin, bin totals) — not the
    rewrite: at 100 TB this query reads table METADATA grain (one row
    per partition/file, ~10⁶ rows for a million-file table — the
    same tiny-by-construction grain as the Bloom index), never the
    data.  Here the per-month stats are derived from the table itself
    so the DuckDB oracle can verify the packing arithmetic
    end-to-end.  The cumulative window is unpartitioned BY DESIGN over
    that bounded metadata grain (allowlisted in the plan lint with
    the sweep-line day-carry); the per-bin totals ride a partitioned
    window.  Reference analog: artifact sink sizing
    (run_scoring_engine.py sized batches) — the maintenance half of
    S21's sized-output story."""
    from pyspark.sql import Window

    stats = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    w = Window.orderBy("ship_month").rowsBetween(Window.unboundedPreceding, 0)
    packed = stats.withColumn(
        "sum_before",
        (F.sum("n_rows").over(w) - F.col("n_rows")).cast("bigint"),
    ).withColumn(
        "bin_id",
        F.expr(f"sum_before div {_COMPACT_TARGET_ROWS}").cast("bigint"),
    )
    wb = Window.partitionBy("bin_id")
    return packed.select(
        "ship_month",
        "n_rows",
        "bin_id",
        F.sum("n_rows").over(wb).cast("bigint").alias("bin_rows"),
        F.count(F.lit(1)).over(wb).cast("bigint").alias("bin_files"),
    )
