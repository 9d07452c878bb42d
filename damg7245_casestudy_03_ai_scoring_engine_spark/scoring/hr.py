"""HR score and position factor (reference production path).

- HR score (scripts/run_scoring_engine.py:395-396,
  app/scoring/hr_calculator.py:4-9): `hr_base·(1 + 0.15·pf)` clamped
  [0,100], hr_base from the sector profile (default 75).
- Position factor (app/scoring/position_factor.py:7-29):
  `0.6·clamp((VR−sector_avg)/50, −1, 1) + 0.4·clamp((mcap_pct−0.5)·2,
  −1, 1)`, clamped [−1,1].

Both are SQL fragments over columns of broadcast config joins.
"""

from __future__ import annotations

from ..functions.core import clamp_sql


def hr_score_sql(hr_base: str, pf: str) -> str:
    return clamp_sql(f"{hr_base} * (1.0D + 0.15D * {pf})", 0.0, 100.0)


def position_factor_sql(vr: str, sector_avg_vr: str, mcap_pct: str) -> str:
    vr_term = clamp_sql(f"({vr} - {sector_avg_vr}) / 50.0D", -1.0, 1.0)
    mcap_term = clamp_sql(f"({mcap_pct} - 0.5D) * 2.0D", -1.0, 1.0)
    return clamp_sql(f"0.6D * {vr_term} + 0.4D * {mcap_term}", -1.0, 1.0)
