"""Window functions (SURVEY.md §2.5, W1-W8) — the analytical core.

The reference computes these twice (pandas ``shift``/``rolling`` at
``metrics.py:66-80`` and SQL ``LAG``/``AVG OVER`` at
``models/metrics.sql:32-53``); here there is exactly one implementation:
Spark window expressions. Scale note: each distinct
(partitionBy, orderBy) pair costs one shuffle+sort, so the KPI builders
reuse a single window spec for every lag/rolling/first-value column —
one exchange, N expressions.

Semantics preserved from the reference (SURVEY.md §7.3):
- lags are ROW-offset (``shift(12)``), not calendar-offset — with gappy
  months lag-12 ≠ same-month-last-year, and we reproduce that;
- rolling means use ``min_periods=1`` — Spark's frame AVG over
  ``ROWS 2 PRECEDING`` has exactly those semantics;
- base-100 index guards a zero/NULL base with 1 (``metrics_products.py:104``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def series_window(partition: list[str] | None = None,
                  order: list[str] | None = None) -> WindowSpec:
    """The canonical (year, month_num) series window, optionally
    partitioned by category (``metrics_products.py:81-84``)."""
    order = order or ["year", "month_num"]
    w = Window.partitionBy(*(partition or []))
    return w.orderBy(*order)


def pct_change(col: str, n: int, w: WindowSpec, ndigits: int = 2) -> Column:
    """W3 — ``(x/lag(x,n) - 1)*100`` rounded (``metrics.py:72-75``,
    ``models/metrics.sql:38-43``). NULL lag or zero base → NULL, matching
    pandas NaN propagation and DuckDB NULL division."""
    prev = F.lag(col, n).over(w)
    return F.when(prev.isNotNull() & (prev != 0),
                  F.round((F.col(col) / prev - 1) * 100, ndigits))


def rolling_mean(col: str, n: int, w: WindowSpec, ndigits: int | None = 2) -> Column:
    """W4/W5 — trailing n-row mean with min_periods=1
    (``metrics.py:78-80``, ``models/metrics.sql:46-47``)."""
    m = F.avg(col).over(w.rowsBetween(-(n - 1), 0))
    return F.round(m, ndigits) if ndigits is not None else m


def rolling_mean_exact(col: str | Column, n: int, w: WindowSpec,
                       ndigits: int = 2) -> Column:
    """W5 — trailing n-row mean of an already-2dp-rounded series,
    computed in exact integer cents so the result is bit-identical
    across engines.

    ``avg`` over a long float window is summation-order-dependent, and
    even with an exact cents sum, ``round(total/(cnt*100), 2)`` still
    diverges: Spark rounds doubles via their shortest decimal string
    (HALF_UP), DuckDB rounds the raw binary double — one ulp around a
    ``.005`` boundary flips the last digit (the r01 q26 hash fail, and
    the residual q25 near-misses). So BOTH the sum and the rounding are
    done in exact bigint arithmetic: mean-in-cents rounded
    half-away-from-zero is ``sign(total) * ((2*|total| + cnt) div
    (2*cnt))``, divided by 100 once at the end (exact: one correctly-
    rounded IEEE division of an integer ≤ 2^53 by 100, same bits in
    every engine). Oracle twin: ``_ma_exact_sql`` in queries/windows.py.

    Integer division is expressed as ``(a - a % b) / b`` — exact for
    nonneg bigints whose quotient fits a double — because the Column
    API has no ``div`` operator.
    """
    c = F.col(col) if isinstance(col, str) else col
    frame = w.rowsBetween(-(n - 1), 0)
    cents = F.round(c * 100, 0).cast("bigint")
    total = F.sum(cents).over(frame)
    cnt = F.count(c).over(frame)
    num = 2 * F.abs(total) + cnt
    den = 2 * cnt
    q = ((num - num % den) / den).cast("bigint")
    mean_cents = F.when(total < 0, -q).otherwise(q)
    return F.when(cnt > 0, mean_cents / F.lit(100.0))


def base_index(col: str, w: WindowSpec, ndigits: int = 2) -> Column:
    """W6 — base-100 index on the first value of the (partitioned) series
    (SQL form ``models/metrics.sql:50-51``; guarded pandas form
    ``metrics_products.py:98-107``: base<=0 or NULL → treat base as 1)."""
    first = F.first(col, ignorenulls=False).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    guarded = F.when(first.isNotNull() & (first > 0), first).otherwise(F.lit(1.0))
    return F.round(F.col(col) / guarded * 100, ndigits)


def yoy_over_annual(df: DataFrame, year_col: str = "year",
                    value_col: str = "exports", ndigits: int = 2) -> DataFrame:
    """W7 — window over an aggregate: YoY growth of annual sums
    (``models/metrics.sql:73-82``). The input is already one row per year
    (tiny), so the unpartitioned window is safe; at scale the per-year
    aggregate IS the reduction, never the raw facts."""
    w = Window.orderBy(year_col)
    prev = F.lag(value_col, 1).over(w)
    return df.withColumn(
        "yoy_growth_pct",
        F.when(prev.isNotNull() & (prev != 0),
               F.round((F.col(value_col) / prev - 1) * 100, ndigits)),
    )


def domain_rank(df: DataFrame, value_col: str, tiebreak_col: str,
                out_col: str = "rn") -> DataFrame:
    """Exact global 1-based row_number over ``(value_col, tiebreak_col)``
    WITHOUT a data-grain single-partition window — the scale-safe twin of
    ``row_number() OVER (ORDER BY value, tiebreak)``.

    Decomposition: (1) aggregate to DISTINCT-VALUE grain and take a
    running count ordered by value — the only unpartitioned window, over
    a frame bounded by the value DOMAIN (for a 4dp-quantized score in
    [0, ~30] that is ≤ ~300k rows at ANY corpus size — domain-bounded,
    not data-bounded); (2) rank ties within each value group by the
    tiebreak under a value-PARTITIONED window; (3) global rank = the
    value's offset + the in-group rank, via a broadcast join on the
    value. Deterministic (no range-partitioner sampling, no
    checkpoint), builder-pure (launches no jobs), and every data-grain
    shuffle is a hash partition on the value.
    """
    offs = (
        df.groupBy(value_col).agg(F.count("*").alias("_c"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_c").over(
                    Window.orderBy(value_col)
                    .rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0)))
        .drop("_c")
    )
    in_group = F.row_number().over(
        Window.partitionBy(value_col).orderBy(tiebreak_col))
    # eqNullSafe join: a NULL value group must rank too (plain equality
    # would silently DROP null-valued rows and desync every downstream
    # ntile bucket from the row_number twin, which sorts nulls first —
    # review finding r6); the offsets window above orders nulls first
    # exactly like the window form.
    offs = offs.withColumnRenamed(value_col, "_dr_val")
    return (
        df.withColumn("_lrn", in_group)
        .join(F.broadcast(offs),
              F.col(value_col).eqNullSafe(F.col("_dr_val")))
        .withColumn(out_col, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_lrn", "_off", "_dr_val")
    )


def ntile_from_rank(rn: Column, n_rows: Column, n_tiles: int) -> Column:
    """SQL ``ntile(n_tiles)`` bucket from a precomputed global rank:
    the first ``n_rows % n_tiles`` tiles get ``n_rows div n_tiles + 1``
    rows, the rest one fewer — bit-identical to the window function,
    computed from (rank, total) scalars so no global sort is needed.
    ANSI-safe: the small-N case (``n_rows < n_tiles`` → quotient 0)
    takes the first branch for every row, and the divisor of the other
    branch is clamped to 1 so it cannot raise even though unevaluated.
    """
    quotient = ((n_rows - (n_rows % n_tiles)) / n_tiles).cast("bigint")
    rem = n_rows % n_tiles
    boundary = rem * (quotient + 1)
    return F.when(
        rn <= boundary,
        F.floor((rn - 1) / (quotient + 1)) + 1
    ).otherwise(
        rem + F.floor((rn - boundary - 1) / F.greatest(quotient, F.lit(1)))
        + 1
    ).cast("bigint")
