"""Joins and set ops (SURVEY.md §2.3 J1-J4, §2.7 U1-U3).

Join strategy at scale: dimension tables (region/nation/part/supplier in
the test star; annual-totals lookups in the reference) are broadcast —
no shuffle of the fact side. AQE picks broadcast automatically under the
threshold; ``broadcast()`` hints pin it where we know the side is a dim.
Fact-fact joins shuffle on the key — keys chosen to be the grouping keys
so one exchange serves both join and downstream agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def anti_join(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
    """J3 — keys in A absent from B (``tests/test_products_qa.py:151-160``
    does this with python sets; left_anti is the distributed form)."""
    return a.join(b, on=on, how="left_anti")


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              order_col: str, right_cols: list[str],
              suffix: str = "_asof") -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.order_col <= left.order_col`` within the ``on`` group
    (SURVEY.md §7.4 custom-operator surface; no reference counterpart).

    Implemented as the union-merge trick — tag both sides, union, one
    window sort per group, ``last(ignorenulls)`` of the right payload
    over unbounded-preceding — i.e. a single shuffle+sort on
    (on, order_col), never a per-row range scan or broadcast loop. Right
    rows order BEFORE left rows at equal timestamps (inclusive as-of).
    At 100 TB this is the merge-join shape: both sides co-partition by
    the key and sort once.

    Determinism: when multiple right rows share an identical
    (on, order_col), the window order falls through to the right
    payload columns themselves (ascending), so the winner is the
    greatest payload tuple — stable across engines and shuffles rather
    than sort-order-defined. Left rows carry NULL payload and are
    already separated by ``_side``, so the extra keys never reorder
    left vs right."""
    from pyspark.sql import Window

    lt = left.withColumn("_side", F.lit(1))
    rt = right.select(
        *on, order_col,
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
    ).withColumn("_side", F.lit(0))
    payload = [f"{c}{suffix}" for c in right_cols]
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in payload:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None).cast(dict(rt.dtypes)[c]))
    unioned = lt.unionByName(rt.select(lt.columns))
    w = (Window.partitionBy(*on)
         .orderBy(order_col, "_side", *payload)
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned.select(
        *[c for c in left.columns if c != "_side"], "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in payload],
    )
    return filled.filter(F.col("_side") == 1).drop("_side")


def union_frames(*dfs: DataFrame) -> DataFrame:
    """U1 — UNION ALL by name (``pd.concat`` at ``etl.py:78-79``).
    ``unionByName`` is position-independent, unlike ``union``."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
