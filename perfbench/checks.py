"""Output checks, run outside the timed region.

- Mix queries: the Spark result against the query's DuckDB oracle
  (`QuerySpec.oracle`), compared as the correctness gate
  (tests/test_oracle_parity.py) does — column names sorted, rows
  order-insensitive, floats to 9 significant digits — reduced to
  (row count, sha256 value hash).
- Ingest: the served composite against the batch flagship over the
  same evidence, and the audit tables' row counts.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import math
import os


def _norm(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(rows, colnames) -> tuple[int, str]:
    """(row count, value hash) of a result, insensitive to row and
    column order."""
    cols = [c.lower() for c in colnames]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in idx]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def oracle_connection(data_dir: str):
    """DuckDB connection with one view per table file in `data_dir`."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    rows = res.fetchall()
    return digest(rows, [d[0] for d in res.description])


def composite_by_company(rows) -> dict:
    """company_id → (composite 4 dp, score_band, n_items)."""
    return {
        r["company_id"]: (round(r["composite_score"], 4), r["score_band"], r["n_items"])
        for r in rows
    }


def composite_mismatches(served: dict, batch: dict) -> int:
    """Companies whose served composite differs from the batch
    flagship (missing on either side counts)."""
    bad = len(set(served) ^ set(batch))
    for cid in set(served) & set(batch):
        s, b = served[cid], batch[cid]
        if s[1:] != b[1:] or not math.isclose(s[0], b[0], abs_tol=2e-4):
            bad += 1
    return bad


def audit_trail_ok(audit_dir: str, evidence_dir: str, run_id: str, n_scores: int):
    """One `scoring_runs` row for `run_id`, and one `audit_log` row per
    (company, dimension) for `dimension_scoring` and per company for
    `final_write` — counted independently with DuckDB over the same
    evidence (dimension = l_linenumber % 7, company = o_custkey)."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    runs = pq.read_table(os.path.join(audit_dir, "scoring_runs"))
    n_runs = pc.sum(pc.equal(runs["run_id"], run_id)).as_py() or 0
    log = pq.read_table(os.path.join(audit_dir, "audit_log"))
    log = log.filter(pc.equal(log["scoring_run_id"], run_id))
    got = {}
    for step in log["step_name"].to_pylist():
        got[step] = got.get(step, 0) + 1
    con = duckdb.connect()
    try:
        li = os.path.join(evidence_dir, "lineitem.parquet")
        orders = os.path.join(evidence_dir, "orders.parquet")
        n_dims, n_companies = con.execute(
            f"""SELECT count(DISTINCT (o_custkey, l_linenumber % 7)), count(DISTINCT o_custkey)
                FROM read_parquet('{li}') AS l JOIN read_parquet('{orders}') AS o
                ON l.l_orderkey = o.o_orderkey"""
        ).fetchone()
    finally:
        con.close()
    want = {"dimension_scoring": n_dims, "final_write": n_companies}
    if n_runs == 1 and got == want and n_scores == n_companies:
        return True
    return (
        f"scoring_runs rows={n_runs} (want 1), audit_log {got} (want {want}), "
        f"scores={n_scores} (want {n_companies})"
    )
