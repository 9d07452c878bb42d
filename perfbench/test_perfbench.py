"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root.  The two end-to-end tests start a real
Spark session per workload (about a minute each); the check tests
show that every output check can fail.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
from tracing import Tracer, plan_node_counts  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> dict:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_minimal_run_emits_every_metric_with_unit(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0, res
        assert res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want
        for k, v in res["metrics"].items():
            assert isinstance(v["value"], (int, float)), k
            if trace == 0:
                assert v["value"] > 0, k


def test_corrupted_oracle_output_registers_as_failure(monkeypatch):
    """Same run as the mix workload, but every expected digest is
    corrupted: each query check must count as a failed op."""
    import run as bench_run

    real = checks.oracle_digest
    monkeypatch.setattr(checks, "oracle_digest", lambda con, sql: (real(con, sql)[0], "0" * 64))
    monkeypatch.chdir(ROOT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = bench_run.main(["--workload", WORKLOADS[0], "--seed", "5", "--seconds", "1"])
    assert code == 0
    out = buf.getvalue().strip().splitlines()
    res = json.loads(out[-1])
    import workloads

    assert res["correct"] is False
    assert res["failed"] == len(workloads.MIX_QUERIES)
    assert sum(line.startswith("error: check ") for line in out) == len(workloads.MIX_QUERIES)


def test_digest_ignores_order_but_not_values():
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    base = checks.digest(rows, ["k", "s", "x"])
    assert checks.digest(rows[::-1], ["k", "s", "x"]) == base
    assert checks.digest([(r[2], r[0], r[1]) for r in rows], ["x", "k", "s"]) == base
    assert checks.digest([(1, "a", 0.5), (2, "b", 1.26)], ["k", "s", "x"]) != base
    assert checks.digest(rows[:1], ["k", "s", "x"]) != base


def test_composite_mismatch_is_counted():
    batch = {1: (50.1234, "B", 7), 2: (61.0, "A", 3)}
    assert checks.composite_mismatches(dict(batch), batch) == 0
    assert checks.composite_mismatches({1: (50.1239, "B", 7), 2: (61.0, "A", 3)}, batch) == 1
    assert checks.composite_mismatches({1: (50.1234, "C", 7), 2: (61.0, "A", 3)}, batch) == 1
    assert checks.composite_mismatches({1: batch[1]}, batch) == 1


def test_audit_trail_check_fails_on_a_missing_row(tmp_path):
    ev = tmp_path / "ev"
    ev.mkdir()
    pq.write_table(
        pa.table({"l_orderkey": [0, 0, 1], "l_linenumber": pa.array([1, 2, 1], pa.int32())}),
        ev / "lineitem.parquet",
    )
    pq.write_table(pa.table({"o_orderkey": [0, 1], "o_custkey": [10, 11]}), ev / "orders.parquet")
    audit = tmp_path / "audit"
    (audit / "scoring_runs").mkdir(parents=True)
    (audit / "audit_log").mkdir()
    pq.write_table(pa.table({"run_id": ["r1"]}), audit / "scoring_runs" / "p.parquet")
    steps = ["dimension_scoring"] * 3 + ["final_write"] * 2
    pq.write_table(
        pa.table({"scoring_run_id": ["r1"] * 5, "step_name": steps}),
        audit / "audit_log" / "p.parquet",
    )
    assert checks.audit_trail_ok(str(audit), str(ev), "r1", 2) is True
    pq.write_table(
        pa.table({"scoring_run_id": ["r1"] * 4, "step_name": steps[1:]}),
        audit / "audit_log" / "p.parquet",
    )
    assert checks.audit_trail_ok(str(audit), str(ev), "r1", 2) is not True


def test_fixture_tables_match_their_checksums():
    data = os.path.join(HERE, "data")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        sums = [line.split() for line in fh if line.strip()]
    assert len(sums) == 13
    for want, rel in sums:
        with open(os.path.join(data, rel), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == want, rel


def test_split_lineitem_is_seeded_and_keeps_every_row(tmp_path):
    import workloads

    src = os.path.join(workloads.fixture_dir(0.001), "lineitem.parquet")
    a = workloads.split_lineitem(src, str(tmp_path / "a"), 4, 3)
    b = workloads.split_lineitem(src, str(tmp_path / "b"), 4, 3)
    c = workloads.split_lineitem(src, str(tmp_path / "c"), 4, 4)
    names = [os.path.basename(p) for p in a]
    assert names == [os.path.basename(p) for p in b]
    assert all(pq.read_table(x).equals(pq.read_table(y)) for x, y in zip(a, b))
    assert not all(pq.read_table(x).equals(pq.read_table(y)) for x, y in zip(sorted(a), sorted(c)))
    assert sum(pq.read_table(p).num_rows for p in a) == pq.read_table(src).num_rows


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("op", 1):
        with tr.span("child"):
            pass
    st = tr.self_times()
    op, child = tr.spans
    assert st["child"] == pytest.approx(child["end"] - child["start"])
    assert st["op"] == pytest.approx((op["end"] - op["start"]) - (child["end"] - child["start"]))
    assert child["parent"] == 0 and child["op"] == 1


def test_plan_counts_skip_initial_plan():
    plan = "\n".join(
        [
            "== Physical Plan ==",
            "AdaptiveSparkPlan (9)",
            "+- == Final Plan ==",
            "   * Project (4)",
            "   +- ShuffleQueryStage (3)",
            "      +- Exchange (2)",
            "         +- MapInPandas (1)",
            "+- == Initial Plan ==",
            "   Project (8)",
            "   +- Exchange (7)",
            "      +- MapInPandas (6)",
            "",
            "(1) MapInPandas",
        ]
    )
    assert plan_node_counts(plan) == (1, 1)
