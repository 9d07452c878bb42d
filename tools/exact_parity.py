"""Ad-hoc EXACT (bit-level float) Spark↔DuckDB parity check for one or
more registry queries at an arbitrary sf dir — reproduces the
driver's value-hash gate locally.  The session takes `get_spark`'s
defaults: `SPARK_GRAFT_CPUS` cores (else all of them) and
min(32, max(4, cores)) shuffle partitions.

Usage: python tools/exact_parity.py [--sf DIR] q1 [q2 ...]
       python tools/exact_parity.py --window   # driver's 50-query window

Per-query SF guidance (r12, r11 verdict #7) — the DuckDB side
dominates for composed/recursive oracles, so budget sf0.1 runs
per-query, not per-batch:

- Full sweep: sf0.001 minutes, sf0.01 ~20 min, sf0.1 ~3 h (the
  recursive-CTE compositions dominate).  Rotate a BATCH of untouched
  queries through sf0.1 per round; always run the round-touched names.
- The near-dup composed family (`near_dup_keep_best`,
  `near_dup_corpus_rebuild`, `dup_cluster_size_histogram`,
  `post_dedup_mixing_weights`) nests the WITH RECURSIVE cluster
  resolution.  r11 measured ~35 min at sf0.1 for
  post_dedup_mixing_weights; the r12 `AS MATERIALIZED` audit (every
  multiply-referenced CTE in the chain — the documented _bpe_oracle
  re-expansion footgun) brought it to one recursion pass per query,
  measured 572 / 655 / 651 s (histogram / rebuild / mixing) at sf0.1.
  The ~9.5-min WITH RECURSIVE resolution is the inherent floor —
  WAIVER: the two deepest compositions run ~11 min/query at sf0.1,
  just over the 10-min budget, all of it the single recursion.  If a
  composed oracle regresses well past that, check for a newly
  multiply-referenced CTE before blaming data volume.
- The BPE chain (`bpe_merge_induction`, `bpe_encode_corpus`,
  `sequence_packing_bpe`) is 20 unrolled MATERIALIZED rounds —
  DuckDB-side cost is vocabulary-driven (~1-2 min at sf0.1), safe in
  a batch.
- Everything else is fine in batches at any test SF.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, float):
            return v  # EXACT — no rounding; that's the point
        return v

    out = [tuple(norm(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, repr(v)) for v in t))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--window", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.session import get_spark

    names = list(args.names)
    if args.window:
        import __spark_entry__ as entry

        names = [n for n in list(entry.queries())[:50] if REGISTRY[n].oracle]

    import duckdb

    spark = get_spark(
        "exact-parity", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad = 0
    for name in names:
        spec = REGISTRY[name]
        sdf = spec.fn(spark, args.sf)
        srows = [tuple(r) for r in sdf.collect()]
        scols = [c.lower() for c in sdf.columns]
        res = con.execute(spec.oracle)
        drows = res.fetchall()
        dcols = [d[0].lower() for d in res.description]
        status = []
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA {scols} vs {dcols}")
        if len(srows) != len(drows):
            status.append(f"ROWS {len(srows)} vs {len(drows)}")
        if not status:
            cs, cd = canon(srows, scols), canon(drows, dcols)
            if cs != cd:
                ndiff = sum(1 for a, b in zip(cs, cd) if a != b)
                status.append(f"VALUES ({ndiff}/{len(cs)} rows differ)")
                for a, b in zip(cs, cd):
                    if a != b:
                        print(f"    spark={a}\n    duck ={b}")
                        break
        if status:
            bad += 1
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"ok   {name} ({len(srows)} rows)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
