"""Composite Org-AI-R score.

Production formula (reference app/scoring_engine/composite.py:49-62,
scripts/run_scoring_engine.py:444-450):

    Org-AI-R = (1−β)·(α·VR + (1−α)·HR) + β·Synergy,  α=0.60, β=0.12

clamped [0,100]; maturity bands at ≤20/40/60/80
(composite.py:17-34) are `functions.core.score_band_sql`.
"""

from __future__ import annotations

from ..functions.core import clamp_sql, flit
from .config import COMPOSITE_ALPHA, COMPOSITE_BETA


def composite_sql(vr: str, hr: str, synergy: str) -> str:
    """SQL fragment of the composite; (1-α)/(1-β) are computed
    python-side and emitted via shortest round-tripping repr
    (bit-identical literals)."""
    core = f"{flit(COMPOSITE_ALPHA)} * {vr} + {flit(1.0 - COMPOSITE_ALPHA)} * {hr}"
    return clamp_sql(
        f"{flit(1.0 - COMPOSITE_BETA)} * ({core}) + {flit(COMPOSITE_BETA)} * {synergy}",
        0.0,
        100.0,
    )
