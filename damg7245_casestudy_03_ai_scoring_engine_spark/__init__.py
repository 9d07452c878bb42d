"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference `DAMG7245-CaseStudy-03-AI_Scoring_Engine`
(PE Org-AI-Readiness scoring platform), re-expressed Spark-first.

Layout
------
- ``functions``  : reusable formula fragments and column helpers (clamp,
  fixed-point rounding, text metrics, vector math) — the Spark analog of the reference's
  scalar helper functions (reference: app/scoring/utils.py,
  app/scoring_engine/*.py clamp/safe_div definitions).
- ``operators``  : the generic relational operator inventory
  (SURVEY.md §2) as (spark, sf_dir) -> DataFrame callables with
  DuckDB oracle SQL, plus LLM-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing).
- ``scoring``    : the domain scoring engine — VR / HR / synergy /
  composite / talent / SEM as pure DataFrame transformations.
- ``sources``    : parquet/table readers with explicit schemas.
- ``plans``      : explain/inspection helpers used to audit physical
  plans (broadcast, pushdown, codegen).
- ``streaming``  : Structured Streaming extensions (ingestion).

Everything here is built only on the public PySpark API; no code is
copied from the reference (a Snowflake+FastAPI Python app with no
query engine of its own — see SURVEY.md).
"""

__version__ = "0.1.0"
