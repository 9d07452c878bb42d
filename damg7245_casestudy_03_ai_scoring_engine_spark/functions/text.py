"""Text-analysis column helpers — tokenization and quality ratios.
All native `pyspark.sql.functions` (JVM-side, codegen) — no Python
in the hot path; these run per-row over 100 TB document tables
without serialization overhead.

The reference's text handling is Python loops over fetched rows
(keyword containment app/scoring_engine/evidence_mapper.py:283-299,
word counts app/pipelines/document_parser.py:200-230); here the same
semantics are column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small multilingual stopword set used by the quality/lang-id
# heuristics.  Deliberately tiny + deterministic so the same list can
# be inlined into oracle SQL.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")


def _col(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty-safe)."""
    c = F.trim(_col(col))
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (reference word_count columns,
    app/pipelines/document_parser.py:40-41 analog)."""
    return F.size(word_tokens(col))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of tokens that are stopwords — quality-scoring input."""
    toks = word_tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
