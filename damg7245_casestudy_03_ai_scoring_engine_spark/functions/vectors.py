"""Vector math over `array<float>` embedding columns — built on
higher-order functions (`zip_with`, `aggregate`) so the arithmetic
runs JVM-side per row with no Python round-trip.  This is the
similarity-search primitive set for the LLM-data-pipeline operators.

Accumulate in double regardless of the storage type (float32
embeddings) — at 64–4096 dims float accumulation error is visible in
top-k ordering.

Each helper is a SQL fragment, the only spelling of its formula (see
functions/core.py): callers pass column names and wrap the result in
one F.expr parse.  A Python-lambda `F.zip_with`/`F.aggregate` build
costs ~30 ms of py4j traffic per call, and the similarity family
constructs a dozen of these per DataFrame build.
"""

from __future__ import annotations


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    """cos(a,b) with a zero-norm guard (ANSI-safe)."""
    na, nb = l2_norm_sql(a), l2_norm_sql(b)
    return (
        f"CASE WHEN {na} > 0 AND {nb} > 0 "
        f"THEN {dot_sql(a, b)} / ({na} * {nb}) ELSE 0D END"
    )
