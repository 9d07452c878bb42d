from . import config  # noqa: F401
from .composite import composite_sql  # noqa: F401
from .hr import hr_score_sql, position_factor_sql  # noqa: F401
from .synergy import formula_synergy_sql, rule_synergy  # noqa: F401
from .talent import (  # noqa: F401
    hhi,
    hhi_penalty_factor_sql,
    talent_concentration_sql,
    talent_risk_adjustment_sql,
)
from .vr import vr_scores  # noqa: F401
