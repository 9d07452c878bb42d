"""Run orchestration + audit trail (scoring/runlog.py): deterministic
run ids, per-stage audit appends, breakdown JSON shape, and one
breakdown rule shared with the registry query."""

from __future__ import annotations

import glob
import json

from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.runlog import (
    run_id_for,
    score_portfolio_with_audit,
)

from conftest import SF_SMOKE


def test_run_id_deterministic():
    a = run_id_for(["WMT", "NVDA"], "v1", "2026-01-01T00:00:00Z")
    b = run_id_for(["NVDA", "WMT"], "v1", "2026-01-01T00:00:00Z")  # order-free
    c = run_id_for(["NVDA", "WMT"], "v2", "2026-01-01T00:00:00Z")
    assert a == b and a != c and len(a) == 32


def test_score_portfolio_with_audit(spark, tmp_path):
    audit = str(tmp_path / "audit")
    run_id, final = score_portfolio_with_audit(spark, SF_SMOKE, audit)

    rows = final.collect()
    assert len(rows) > 0
    for r in rows[:5]:
        assert r.scoring_run_id == run_id
        entries = json.loads(r.dimension_breakdown_json)
        assert 1 <= len(entries) <= 7
        dims = [e["dimension"] for e in entries]
        assert dims == sorted(dims)  # canonical ordering
        for e in entries:
            assert 0.0 <= e["score"] <= 100.0
            assert 0.0 <= e["confidence"] <= 1.0
            assert e["evidence_count"] >= 1

    runs = spark.read.parquet(f"{audit}/scoring_runs").collect()
    assert [r.run_id for r in runs] == [run_id]
    assert runs[0].status == "running"

    log = spark.read.parquet(f"{audit}/audit_log")
    steps = {r.step_name for r in log.select("step_name").distinct().collect()}
    assert steps == {"dimension_scoring", "final_write"}
    # one parquet file per append, not one per partition of the stage
    assert len(glob.glob(f"{audit}/audit_log/*.parquet")) == 2
    one = log.filter(log.step_name == "final_write").limit(1).collect()[0]
    payload = json.loads(one.output_json)
    assert "composite_score" in payload and "score_band" in payload

    # append-only: a second run adds rows, never rewrites
    run_id2, _ = score_portfolio_with_audit(
        spark, SF_SMOKE, audit, run_ts="1970-01-02T00:00:00Z"
    )
    assert run_id2 != run_id
    assert spark.read.parquet(f"{audit}/scoring_runs").count() == 2
    assert len(glob.glob(f"{audit}/audit_log/*.parquet")) == 4


def test_audited_breakdown_is_the_registry_breakdown(spark, tmp_path):
    """The audited run's breakdown JSON is byte-equal to the
    oracle-checked `dimension_breakdown_json` for every company, and
    each `dimension_scoring` audit row carries its breakdown entry."""
    audit = str(tmp_path / "audit")
    run_id, final = score_portfolio_with_audit(spark, SF_SMOKE, audit)
    audited = {r.company_id: r.dimension_breakdown_json for r in final.collect()}
    registry = REGISTRY["dimension_breakdown_json"].fn(spark, SF_SMOKE)
    assert audited == {r.company_id: r.dimension_breakdown_json for r in registry.collect()}

    entries = {
        (cid, e["dimension"]): e for cid, js in audited.items() for e in json.loads(js)
    }
    log = spark.read.parquet(f"{audit}/audit_log")
    payloads = [
        json.loads(r.output_json)
        for r in log.filter(log.step_name == "dimension_scoring").collect()
    ]
    assert len(payloads) == len(entries)
    for p in payloads:
        e = entries[(p["company_id"], p["dimension"])]
        got = (p["score"], p["confidence"], p["evidence_count"])
        assert got == (e["score"], e["confidence"], e["evidence_count"]), p
