"""Incremental flagship == batch flagship: streaming evidence merged
as partials must yield the same composite scores as the one-shot
batch pipeline over the same data."""

from __future__ import annotations

import math

from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.demo_domain import evidence_rows
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
    merge_partials,
    score_from_partials,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.pipeline import score_portfolio

from conftest import SF_SMOKE


def _by_company(rows):
    return {
        r.company_id: (
            round(r.vr_score, 4),
            round(r.hr_score, 4),
            round(r.synergy_score, 4),
            round(r.composite_score, 4),
            r.score_band,
            r.n_items,
        )
        for r in rows
    }


def test_incremental_partials_match_batch_flagship(spark, tmp_path):
    """Feed the evidence in TWO halves through the partial merger;
    the derived scores must match the batch flagship to 4dp (fp
    accumulation order differs — scores are rounded anyway)."""
    gold = str(tmp_path / "gold")
    ev = evidence_rows(spark, SF_SMOKE).persist()
    upsert = merge_partials(gold)
    half_a = ev.filter("company_id % 2 = 0")
    half_b = ev.filter("company_id % 2 = 1")
    upsert(half_a, 0)
    upsert(half_b, 1)
    # second delivery of batch data would double-count — the partial
    # tables are merged per NEW batch only, which is what foreachBatch
    # guarantees under exactly-once (checkpointed batch ids)

    got = _by_company(score_from_partials(spark, SF_SMOKE, gold).collect())
    want = _by_company(score_portfolio(spark, SF_SMOKE).collect())
    assert set(got) == set(want)
    for cid, g in got.items():
        w = want[cid]
        assert g[4] == w[4] and g[5] == w[5], (cid, g, w)  # band, n_items
        for i in range(4):
            assert math.isclose(g[i], w[i], abs_tol=2e-4), (cid, i, g, w)


def test_incremental_updates_shift_scores(spark, tmp_path):
    """Merging MORE evidence for a company must change its score —
    i.e. the gold tables actually accumulate rather than overwrite."""
    gold = str(tmp_path / "gold2")
    ev = evidence_rows(spark, SF_SMOKE).persist()
    upsert = merge_partials(gold)
    upsert(ev, 0)
    one = {r.company_id: r.n_items for r in score_from_partials(spark, SF_SMOKE, gold).collect()}
    upsert(ev.limit(500), 1)
    two = {r.company_id: r.n_items for r in score_from_partials(spark, SF_SMOKE, gold).collect()}
    assert sum(two.values()) == sum(one.values()) + 500


def test_replayed_batch_never_double_merges(spark, tmp_path):
    """Crash-replay semantics: foreachBatch re-delivers the LAST batch
    if the crash lands between the gold-table swap and the checkpoint
    commit.  Replaying the same batch id must be a no-op (the marker
    travels inside the atomically-swapped directory), while the next
    batch id still merges."""
    gold = str(tmp_path / "gold_replay")
    ev = evidence_rows(spark, SF_SMOKE).persist()
    upsert = merge_partials(gold)
    upsert(ev, 0)
    base = _by_company(score_from_partials(spark, SF_SMOKE, gold).collect())

    upsert(ev, 0)  # replay of batch 0 — must not re-merge
    assert _by_company(score_from_partials(spark, SF_SMOKE, gold).collect()) == base

    upsert(ev.limit(100), 0)  # replay with different (partial) content, same id
    assert _by_company(score_from_partials(spark, SF_SMOKE, gold).collect()) == base

    upsert(ev.limit(100), 1)  # genuinely new batch still lands
    n_after = {
        r.company_id: r.n_items
        for r in score_from_partials(spark, SF_SMOKE, gold).collect()
    }
    assert sum(n_after.values()) == sum(v[5] for v in base.values()) + 100


def test_rolled_back_table_replays_to_clean_state(spark, tmp_path):
    """Crash that loses batch 1's commit: the gold table is rolled
    back to its pre-batch-1 generation (marker included).  The replay
    of batch 1 must merge again and converge to the same state as a
    clean run."""
    import os
    import shutil as sh

    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
        PARTIALS,
    )

    gold = str(tmp_path / "gold_crash")
    ev = evidence_rows(spark, SF_SMOKE).persist()
    upsert = merge_partials(gold)
    upsert(ev.filter("company_id % 2 = 0"), 0)
    before_batch1 = str(tmp_path / "partials_saved")
    sh.copytree(os.path.join(gold, PARTIALS), before_batch1)

    upsert(ev.filter("company_id % 2 = 1"), 1)
    clean = _by_company(score_from_partials(spark, SF_SMOKE, gold).collect())

    # simulate the crash: roll the table back to its pre-batch-1 state
    sh.rmtree(os.path.join(gold, PARTIALS))
    sh.copytree(before_batch1, os.path.join(gold, PARTIALS))

    upsert(ev.filter("company_id % 2 = 1"), 1)  # replay
    assert _by_company(score_from_partials(spark, SF_SMOKE, gold).collect()) == clean


def test_merge_partials_recovers_mid_commit_crash(spark, tmp_path):
    """Crash inside the table's commit: batch 2 detached the partials
    table (renamed to `._old`) but died before promoting its merge.
    The replay of batch 2 must restore the detached generation and
    merge into it, not rebuild the table from batch 2 alone."""
    import os

    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
        PARTIALS,
    )

    ev = evidence_rows(spark, SF_SMOKE).persist()
    half_a = ev.filter("company_id % 2 = 0")
    half_b = ev.filter("company_id % 2 = 1")

    clean_gold = str(tmp_path / "gold_clean")
    clean_upsert = merge_partials(clean_gold)
    clean_upsert(half_a, 0)
    clean_upsert(half_b, 1)
    clean = _by_company(score_from_partials(spark, SF_SMOKE, clean_gold).collect())

    gold = str(tmp_path / "gold_mid_commit")
    upsert = merge_partials(gold)
    upsert(half_a, 0)
    parts = os.path.join(gold, PARTIALS)
    os.replace(parts, parts + "._old")  # detached, never promoted

    upsert(half_b, 1)  # replay
    assert _by_company(score_from_partials(spark, SF_SMOKE, gold).collect()) == clean


def test_evidence_partials_schema_is_declared(spark):
    """The partials frame has exactly the declared layout (names and
    types, in order): the gold merge reads the table back with the
    partial's schema, and serving reads it with PARTIALS_SCHEMA."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
        PARTIALS_SCHEMA,
        evidence_partials,
    )

    got = evidence_partials(evidence_rows(spark, SF_SMOKE)).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in PARTIALS_SCHEMA
    ]


def test_merge_partials_upsert_job_count(spark, tmp_path):
    """One upsert into an existing gold table is one merge: the
    partials aggregate, the gold merge shuffle and the write — no
    second table, no schema-inference job.  The two-table layout
    started 8 jobs here."""
    ev = evidence_rows(spark, SF_SMOKE).persist()
    gold = str(tmp_path / "gold_jobs")
    upsert = merge_partials(gold)
    upsert(ev.filter("company_id % 2 = 0"), 0)

    sc = spark.sparkContext
    group = "merge-partials-job-count"
    sc.setJobGroup(group, "one merge_partials upsert")
    try:
        upsert(ev.filter("company_id % 2 = 1"), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, sorted(jobs)


def test_streaming_incremental_equals_batch(spark, tmp_path):
    """The REAL streaming path — readStream lineitem files,
    stream-static orders join, foreachBatch partial merge — must
    serve the batch flagship's scores; a second (empty) run must not
    double-merge (checkpointed exactly-once)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
        run_incremental_scoring,
    )

    gold = str(tmp_path / "gold_stream")
    ckpt = str(tmp_path / "ckpt_inc")
    run_incremental_scoring(spark, SF_SMOKE, gold, ckpt)
    got = _by_company(score_from_partials(spark, SF_SMOKE, gold).collect())
    want = _by_company(score_portfolio(spark, SF_SMOKE).collect())
    assert set(got) == set(want)
    for cid, g in got.items():
        w = want[cid]
        assert g[4] == w[4] and g[5] == w[5], (cid, g, w)
        for i in range(4):
            assert math.isclose(g[i], w[i], abs_tol=2e-4), (cid, i, g, w)

    # rerun with nothing new: checkpoint prevents re-merging
    run_incremental_scoring(spark, SF_SMOKE, gold, ckpt)
    again = _by_company(score_from_partials(spark, SF_SMOKE, gold).collect())
    assert again == got


def test_incremental_agg_merge_equals_full_recompute(spark):
    """The r7 rollup-maintenance operator: merging the persisted base
    aggregate with the delta batch's partial aggregate must equal a
    full recompute over all events EXACTLY (integer columns — no
    tolerance), for any cutoff placement including group sets unique
    to one side."""
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    merged = {
        (r.user_id, r.event_type): (r.n_events, r.value_cents, r.hwm_event_id)
        for r in REGISTRY["incremental_agg_merge"].fn(spark, SF_SMOKE).collect()
    }
    full = {
        (r.user_id, r.event_type): (r.n_events, r.value_cents, r.hwm_event_id)
        for r in (
            load(spark, SF_SMOKE, "events")
            .filter(F.col("value").isNotNull())
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("value_cents"),
                F.max("event_id").alias("hwm_event_id"),
            )
            .collect()
        )
    }
    assert merged == full
