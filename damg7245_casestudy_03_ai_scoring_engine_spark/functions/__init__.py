from .core import blend, clamp, conf_floor_sql, safe_div, score_band_sql  # noqa: F401
from .text import (  # noqa: F401
    stopword_ratio,
    token_count,
    word_tokens,
)
from .vectors import cosine_similarity_sql, dot_sql, l2_norm_sql  # noqa: F401
