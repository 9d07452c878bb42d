from .core import conf_floor_sql, score_band_sql  # noqa: F401
from .text import (  # noqa: F401
    stopword_ratio,
    token_count,
    word_tokens,
)
from .vectors import cosine_similarity_sql, dot_sql, l2_norm_sql  # noqa: F401
