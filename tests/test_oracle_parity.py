"""Spark ↔ DuckDB oracle parity for every registered query — the
local mirror of the driver's correctness gate (row count + sorted
schema + order-insensitive value comparison) at sf0.001.
"""

from __future__ import annotations

import math

import pytest

from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY

from conftest import SF_SMOKE


def _canon(rows, colnames):
    """Order-insensitive canonical form: rows as tuples of columns
    sorted by column name, floats rounded to 9 significant places."""
    idx = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return float(f"{v:.9g}")
        try:
            import decimal

            if isinstance(v, decimal.Decimal):
                return float(f"{float(v):.9g}")
        except Exception:
            pass
        return v

    # sort key stringifies values: tuples mixing None/date/str are not
    # orderable in Python (first seen at sf0.1 where SCD2 ties reach a
    # NULL valid_to column); the comparison itself still uses the
    # typed tuples so 1 != "1" cannot false-match
    canon = [tuple(norm(r[i]) for i in idx) for r in rows]
    return sorted(canon, key=lambda t: tuple((v is None, repr(v)) for v in t))


ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
WEAK_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)

# Float-hygiene lint allowlist: (query, column) pairs whose DOUBLE
# output is NOT a fixed-point-rounded value but is still hash-stable by
# construction — either a verbatim parquet passthrough (both engines
# read identical bits) or a single exact-integer-ratio division (one
# IEEE op on order-independent operands).  Everything else must go
# through functions/core.round_stable_sql on BOTH sides: an unrounded
# float AGGREGATE is summation-order-dependent and WILL eventually
# flip the driver's value-hash (round-3 red row).
FLOAT_LINT_OK: set[tuple[str, str]] = {
    # |value − median| where both operands are verbatim 2dp parquet
    # doubles: ONE IEEE subtraction of identical bits on both engines
    # (rank-selected median, no aggregation order anywhere), so the
    # result is bit-stable even though it is not decimal-fixed-point.
    ("mad_robust_outliers", "mad"),
}


def _lint_double_outputs(name, sdf, srows):
    """Every finite double output must be idempotent under the
    round_stable_sql transform at 7dp (true for any value produced by
    round_stable_sql(·, ≤6)) unless explicitly allowlisted."""
    import math as _m

    dbl_idx = [
        i
        for i, f in enumerate(sdf.schema.fields)
        if f.dataType.typeName() in ("double", "float")
        and (name, f.name.lower()) not in FLOAT_LINT_OK
    ]
    if not dbl_idx:
        return
    for r in srows:
        for i in dbl_idx:
            v = r[i]
            if v is None or not isinstance(v, float):
                continue
            if _m.isnan(v) or _m.isinf(v) or abs(v) > 1e9:
                continue
            rounded = _m.floor(v * 1e7 + 0.5) / 1e7
            assert rounded == v, (
                f"{name}.{sdf.schema.fields[i].name}: value {v!r} is not "
                f"fixed-point at <=7dp — unrounded double output; wrap it in "
                f"round_stable_sql on both sides or allowlist it in FLOAT_LINT_OK "
                f"with a stability justification"
            )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [f.lower() for f in sdf.columns]

    res = duck.execute(spec.oracle)
    drows = res.fetchall()
    dcols = [d[0].lower() for d in res.description]

    assert sorted(scols) == sorted(dcols), f"schema mismatch: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    assert _canon(srows, scols) == _canon(drows, dcols)
    _lint_double_outputs(name, sdf, srows)


def test_oracle_output_types_no_hugeint(duck):
    """Registry-wide typing lint: no oracle may OUTPUT a HUGEINT
    (int128) column.  DuckDB types a bare `sum(bigint_col)` as
    HUGEINT; the driver's comparator materializes oracle results
    through a path where int128 degrades to float64, so the value
    hash of `8254.0` no longer matches Spark's int64 `8254` even
    though fetchall()-based local mirrors (drive.py,
    tools/exact_parity.py) see identical Python ints and pass.
    Round-5 red row `domain_token_budget` was exactly this; wrap
    integer-sum outputs in CAST(... AS BIGINT).  DESCRIBE plans
    without executing, so this sweeps all oracles cheaply."""
    offenders = {}
    for name in ORACLE_QUERIES:
        desc = duck.execute("DESCRIBE " + REGISTRY[name].oracle).fetchall()
        hug = [c for c, t, *_ in desc if "HUGEINT" in t.upper()]
        if hug:
            offenders[name] = hug
    assert not offenders, (
        f"oracles with HUGEINT output columns (driver value-hash trap; "
        f"CAST them to BIGINT): {offenders}"
    )


def _duck_type_class(t: str) -> str:
    """Type-class of a DuckDB DESCRIBE column_type string."""
    t = t.strip().upper()
    if t.endswith("[]"):
        return "array<" + _duck_type_class(t[:-2]) + ">"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    if t in (
        "TINYINT",
        "SMALLINT",
        "INTEGER",
        "BIGINT",
        "HUGEINT",
        "UTINYINT",
        "USMALLINT",
        "UINTEGER",
        "UBIGINT",
        "UHUGEINT",
    ):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t in ("VARCHAR", "CHAR", "TEXT"):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "BLOB":
        return "binary"
    return t.lower()


def _spark_type_class(dt) -> str:
    """Type-class of a Spark DataType (mirror of _duck_type_class)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return "array<" + _spark_type_class(dt.elementType) + ">"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return dt.typeName()


def test_oracle_output_type_classes_match(spark, duck):
    """Registry-wide typing lint, the GENERAL form of the HUGEINT rule:
    for every oracle query, the DuckDB DESCRIBE type-class must equal
    the Spark output type-class column-by-column (int / float /
    decimal / date / timestamp / string / bool / array<elem>).

    Two driver red rows came from type-class drift that every
    fetchall()-based local mirror normalizes away: r5
    `domain_token_budget` (DuckDB HUGEINT vs Spark int64) and r7
    `mom_revenue_growth` (Spark DECIMAL(26,6) revenue vs DuckDB's
    decimal/int division promoting to DOUBLE — bit-identical values,
    diverging materialization).  Matching type-classes kill the whole
    family: the driver's hasher sees the same Python type on both
    sides.  DESCRIBE plans without executing and Spark schemas come
    from plan analysis only, so this sweeps all oracles cheaply."""
    offenders = {}
    for name in ORACLE_QUERIES:
        spec = REGISTRY[name]
        desc = duck.execute("DESCRIBE " + spec.oracle).fetchall()
        dclasses = {c.lower(): _duck_type_class(t) for c, t, *_ in desc}
        sdf = spec.fn(spark, SF_SMOKE)
        sclasses = {f.name.lower(): _spark_type_class(f.dataType) for f in sdf.schema.fields}
        diffs = {
            c: (sclasses.get(c), dclasses.get(c))
            for c in set(sclasses) | set(dclasses)
            if sclasses.get(c) != dclasses.get(c)
        }
        if diffs:
            offenders[name] = diffs
    assert not offenders, (
        "oracle output type-class drift (driver value-hash trap — emit the "
        "SAME type-class on both engines, e.g. int64 cents instead of "
        "Spark-DECIMAL-vs-DuckDB-DOUBLE): "
        + "\n".join(f"{n}: {d}" for n, d in sorted(offenders.items()))
    )


@pytest.mark.parametrize("name", WEAK_QUERIES)
def test_rows_only(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.columns) > 0
