"""Analytic / statistical composite ops (SURVEY.md §2.9, Y1-Y7).

Pattern used throughout: reduce-to-scalars, broadcast the scalars back
over the rows (a crossJoin of a 1-row frame — Catalyst plans it as a
BroadcastNestedLoopJoin of one row, i.e. free), then filter. The
reference does the same with python floats in driver memory
(``eda.py:159-166``); this form distributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sunat_rree_demo_spark.operators.windows import pct_change, series_window


def sigma_outliers(df: DataFrame, value_col: str, order: list[str],
                   sigma: float = 2.0, ndigits: int = 2) -> DataFrame:
    """Y1 — σ-outlier detection on the pct-change series
    (``eda.py:159-166``): flag rows where |Δ% − mean| > σ·std(sample).

    Returns the flagged rows with their pct-change. At extreme scale the
    exact mean/std pair stays a single reduction; a MAD/approxQuantile
    variant is the robust alternative (documented, not default, to match
    the reference)."""
    w = series_window(order=order)
    with_pct = df.withColumn("pct", pct_change(value_col, 1, w, ndigits))
    stats = with_pct.agg(F.avg("pct").alias("_mean"),
                         F.stddev_samp("pct").alias("_std"))
    return (with_pct.crossJoin(F.broadcast(stats))
            .filter(F.col("pct").isNotNull()
                    & (F.abs(F.col("pct") - F.col("_mean")) > sigma * F.col("_std")))
            .drop("_mean", "_std"))


def seasonality_matrix(df: DataFrame, month_col: str = "month_num",
                       year_col: str = "year", value_col: str = "export",
                       years: list[int] | None = None) -> DataFrame:
    """Y2 — month × year pivot of the value (``eda.py:93-99``,
    ``app.py:313-318``). Presentation-shaped; explicit year values keep
    the schema static when known."""
    g = df.groupBy(month_col)
    p = g.pivot(year_col, years) if years else g.pivot(year_col)
    return p.agg(F.first(value_col)).orderBy(month_col)


def monthly_profile(df: DataFrame, month_col: str = "month_num",
                    value_col: str = "export") -> DataFrame:
    """Y3/A11 — per-calendar-month mean±std profile (``app.py:336-338``,
    ``eda.py:231``)."""
    return (df.groupBy(month_col)
              .agg(F.round(F.avg(value_col), 2).alias("mean_value"),
                   F.round(F.stddev_samp(value_col), 2).alias("std_value"),
                   F.count(value_col).alias("n_obs"))
              .orderBy(month_col))


def ytd_vs_prior(df: DataFrame, year_col: str = "year",
                 month_num_col: str = "month_num",
                 value_cols: tuple[str, ...] = ("export", "import")) -> DataFrame:
    """Y4/J4 — YTD totals per year restricted to the months available in
    the latest year, plus prior-year delta % (``app.py:197-216``).

    The month cutoff is derived with a window max over the latest year —
    no driver round-trip."""
    latest = df.agg(F.max(year_col).alias("_y")).withColumnRenamed("_y", "_latest_year")
    cutoff = (df.join(F.broadcast(latest),
                      F.col(year_col) == F.col("_latest_year"))
                .agg(F.max(month_num_col).alias("_cutoff")))
    scoped = (df.crossJoin(F.broadcast(cutoff))
                .filter(F.col(month_num_col) <= F.col("_cutoff")))
    agg = scoped.groupBy(year_col).agg(
        *[F.round(F.sum(c), 2).alias(f"ytd_{c}") for c in value_cols])
    w = Window.orderBy(year_col)
    out = agg
    for c in value_cols:
        prev = F.lag(f"ytd_{c}", 1).over(w)
        out = out.withColumn(
            f"ytd_{c}_delta_pct",
            F.when(prev.isNotNull() & (prev != 0),
                   F.round((F.col(f"ytd_{c}") / prev - 1) * 100, 2)))
    return out


def pareto_frontier_2d(df: DataFrame, group_col: str,
                       min_col: str, max_col: str) -> DataFrame:
    """Per-group 2-D Pareto frontier (skyline): keep a row iff no
    same-group row has ``min_col`` ≤ it AND ``max_col`` ≥ it with one
    strict. The O(n log n) window sweep — sort each group by the
    minimized column, then two maxima over the SAME window spec: the
    strictly-cheaper frame (RANGE … 1 PRECEDING) and the equal-value
    peer frame (RANGE CURRENT ROW), so Catalyst plans ONE Window node
    over one shuffle; dominance is a per-row comparison, never a
    self-join. Columns must be exactly comparable (quantize floats to
    integer units first — the q131 cents discipline)."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType

    # the strictly-cheaper frame (RANGE … -1 PRECEDING) means
    # "min_col ≤ current − 1", which equals "strictly smaller" ONLY for
    # integer-quantized values; raw doubles would silently miss
    # dominances (10.5 vs 10.2), so make the contract loud
    if not isinstance(df.schema[min_col].dataType, IntegralType):
        raise TypeError(
            f"pareto_frontier_2d: {min_col!r} must be an integral type "
            f"(got {df.schema[min_col].dataType.simpleString()}); quantize "
            "floats to integer units (e.g. cents) before calling")

    w_cheaper = (Window.partitionBy(group_col).orderBy(min_col)
                 .rangeBetween(Window.unboundedPreceding, -1))
    w_same = (Window.partitionBy(group_col).orderBy(min_col)
              .rangeBetween(Window.currentRow, Window.currentRow))
    dominated = ((F.max(max_col).over(w_cheaper) >= F.col(max_col))
                 | (F.max(max_col).over(w_same) > F.col(max_col)))
    return (df.withColumn("_dom", F.coalesce(dominated, F.lit(False)))
            .filter(~F.col("_dom"))
            .drop("_dom"))


def skyline_2d(df: DataFrame, max_col: str, min_col: str) -> DataFrame:
    """GLOBAL Pareto frontier / SKYLINE (Börzsönyi et al., ICDE'01)
    over two criteria: keep rows where no other row is ≥ on ``max_col``
    AND ≤ on ``min_col`` with at least one strict inequality. Ties on
    both dimensions survive together (neither dominates).

    Complement of ``pareto_frontier_2d`` below: that one computes
    PER-GROUP frontiers with a group-partitioned window sweep (q131);
    this one answers the UNGROUPED question, where the window form
    would be a data-grain single-partition sort — instead it exploits
    distributivity.

    Scale design — skyline is DISTRIBUTIVE: skyline(A ∪ B) =
    skyline(skyline(A) ∪ skyline(B)), so phase 1 computes each
    partition's local skyline (vectorized numpy sweep over the
    partition sorted by (max desc, min asc)), shrinking n rows to
    O(P · |skyline|) candidates (expected O(P·log n) under independent
    dims), and phase 2 re-runs the same sweep once over the single
    coalesced candidate partition — bounded by construction, the same
    budget class as a driver-side top-k merge. No global data-grain
    sort or window anywhere."""
    import numpy as np
    import pandas as pd

    schema = df.schema

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        s = pdf.sort_values([max_col, min_col],
                            ascending=[False, True], kind="mergesort")
        mx = s[max_col].to_numpy()
        mn = s[min_col].to_numpy()
        # group id per distinct max value (sorted desc -> change points)
        new_grp = np.empty(len(s), dtype=bool)
        new_grp[0] = True
        new_grp[1:] = mx[1:] != mx[:-1]
        grp_start = np.maximum.accumulate(
            np.where(new_grp, np.arange(len(s)), 0))
        # best (smallest) min among rows of STRICTLY greater max =
        # running min up to the row before this row's group starts
        cummin = np.minimum.accumulate(mn)
        best_before = np.where(grp_start > 0, cummin[grp_start - 1],
                               np.iinfo(np.int64).max
                               if mn.dtype.kind in "iu" else np.inf)
        # within the equal-max group (min ascending), anything above
        # the group's first min is strictly dominated inside the group
        group_min = mn[grp_start]
        dominated = (best_before <= mn) | (mn > group_min)
        return s[~dominated]

    def run(it):
        for pdf in it:
            yield sweep(pdf)

    def run_whole(it):
        # phase 2 MUST sweep the whole candidate set at once: Arrow
        # hands the single coalesced partition over as MULTIPLE
        # batches, and sweeping each batch independently would emit
        # rows dominated by another batch's rows (caught by review —
        # reproduced with >10k-row candidate sets; the per-batch form
        # is only valid in phase 1, where any superset of the true
        # skyline is acceptable input to phase 2)
        chunks = [pdf for pdf in it if not pdf.empty]
        if chunks:
            yield sweep(pd.concat(chunks, ignore_index=True))

    local = df.mapInPandas(run, schema=schema)
    return local.coalesce(1).mapInPandas(run_whole, schema=schema)
