"""Scalar function library (SURVEY.md §2.8, X1-X13).

Everything is a Column-in/Column-out expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no Python in
the hot path. The one presentation-edge formatter that the reference
implements as a Python function (``app.py:97-106``) is provided both as a
``when``-chain Column expr and as a vectorized pandas UDF for API parity.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def safe_div(num: Column, den: Column, scale: float = 1.0) -> Column:
    """Guarded division (F9/X13): NULL instead of inf/NaN when the
    denominator is 0 or NULL — the reference divides then scrubs
    ``[inf,-inf]→None`` (``metrics_products.py:72``, ``app.py:555``);
    guarding the division is the plan-friendly equivalent."""
    return F.when(den.isNotNull() & (den != 0), num / den * F.lit(scale))


def inf_to_null(col: Column) -> Column:
    """X13 direct form: scrub ±inf/NaN to NULL post-hoc."""
    return F.when(~F.isnan(col) & (F.abs(col) != float("inf")), col)


def bucket_yoy(yoy: Column) -> Column:
    """X12 threshold bucketing of a YoY% into action labels
    (``insights_engine.py:28-37``: >10 strong, >0 up, >-10 soft, else down)."""
    return (
        F.when(yoy > 10, F.lit("strong_growth"))
        .when(yoy > 0, F.lit("growth"))
        .when(yoy > -10, F.lit("soft_decline"))
        .when(yoy.isNotNull(), F.lit("decline"))
    )


def fmt_currency(value: Column) -> Column:
    """X11 currency formatting as a Column expr: 1.2e9 → '$1.2B'
    (``app.py:97-106``, ``insights_engine.py:19-26`` thresholds)."""
    absv = F.abs(value)
    return (
        F.when(absv >= 1e9, F.concat(F.lit("$"), F.round(value / 1e9, 1).cast("string"), F.lit("B")))
        .when(absv >= 1e6, F.concat(F.lit("$"), F.round(value / 1e6, 1).cast("string"), F.lit("M")))
        .when(absv >= 1e3, F.concat(F.lit("$"), F.round(value / 1e3, 1).cast("string"), F.lit("K")))
        .otherwise(F.concat(F.lit("$"), F.round(value, 1).cast("string")))
    )


def in_year(col, year: int) -> Column:
    """Scan-pushable year membership: a half-open range compare on the
    RAW date/timestamp column instead of ``F.year(col) == year`` — the
    function call defeats parquet predicate pushdown (no row-group
    skipping), the range compare reaches the reader.  Identical rows:
    ``year(d) = Y  ⟺  Y-01-01 ≤ d < (Y+1)-01-01``.  Oracles may keep
    the ``year()`` spelling; only the Spark plan shape differs."""
    c = col if isinstance(col, Column) else F.col(col)
    lo = F.lit(f"{year}-01-01").cast("date")
    hi = F.lit(f"{year + 1}-01-01").cast("date")
    return (c >= lo) & (c < hi)
