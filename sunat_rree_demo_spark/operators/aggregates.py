"""Aggregations (SURVEY.md §2.4, A1-A12).

Every grouped aggregation here compiles to Spark's partial+final hash
aggregate — map-side combine before the shuffle — so the shuffle carries
one row per (group × partition), not per input row. That is the property
that makes these hold at 100 TB; the reference's pandas ``groupby`` has no
such notion (single-process, full materialization).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def pivot_table(df: DataFrame, index: list[str], pivot_col: str,
                pivot_values: list[str], agg: Column) -> DataFrame:
    """A3 — long→wide pivot with *explicit* pivot values
    (``metrics.py:33-36``, ``metrics_products.py:52-57``). Explicit values
    keep the schema deterministic AND skip Spark's extra distinct-values
    job — at scale the values scan alone would be a full pass."""
    return df.groupBy(*index).pivot(pivot_col, pivot_values).agg(agg)


def count_if(cond: Column, alias: str) -> Column:
    """A10 — boolean-count aggregate (``eda.py:257``:
    ``(balance > 0).sum()``)."""
    return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)


def argmax(df: DataFrame, keys: list[str], value_col: str, arg_col: str,
           tiebreak: str | None = None) -> DataFrame:
    """A9 — argmax per group (``insights_engine.py:216``: best month by
    export). Implemented with ``max_by`` when a deterministic tiebreak is
    not needed, else row_number over (value desc, tiebreak asc) — the
    form the oracle harness uses, since ``idxmax``/``max_by`` tie-breaking
    is engine-defined."""
    if tiebreak is None:
        return df.groupBy(*keys).agg(F.max_by(arg_col, value_col).alias(f"top_{arg_col}"),
                                     F.max(value_col).alias(f"max_{value_col}"))
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(F.desc(value_col), F.asc(tiebreak))
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .drop("_rn")
              .withColumnRenamed(arg_col, f"top_{arg_col}")
              .withColumnRenamed(value_col, f"max_{value_col}"))


def quarter_of(month_num: Column) -> Column:
    """A12 helper — month_num → 1..4, the CASE bucketing of
    ``models/metrics.sql:58-63`` (kept as arithmetic: identical result)."""
    return F.floor((month_num - 1) / 3 + 1).cast("int")


def quarterly_rollup(df: DataFrame, year_col: str = "year",
                     month_num_col: str = "month_num",
                     export_col: str = "export", import_col: str = "import") -> DataFrame:
    """A12 — quarterly re-aggregation of the monthly base
    (``models/metrics.sql:56-70``)."""
    return (
        df.withColumn("quarter", quarter_of(F.col(month_num_col)))
          .groupBy(year_col, "quarter")
          .agg(F.round(F.sum(export_col), 2).alias("exports"),
               F.round(F.sum(import_col), 2).alias("imports"),
               F.round(F.sum(export_col) - F.sum(import_col), 2).alias("balance"))
    )


def merge_partial_sums(parts: list[DataFrame], keys: list[str],
                       sum_cols: list[str]) -> DataFrame:
    """Incremental-view-maintenance merge: combine PRE-AGGREGATED
    partials (same keys, associative sum/count measures) into the
    aggregate of their union — ``union all → groupBy keys → sum`` —
    without ever touching the base facts again. The algebra behind
    maintaining a stored rollup under delta ingest: yesterday's
    materialized aggregate + today's delta aggregate = today's full
    aggregate, exactly, as long as every measure is associative
    (sums/counts here; avg = sum/count composed after the merge).

    Scale shape: the merge shuffles only aggregate-grain rows (each
    part is already collapsed to its key grain) — the 100 TB base scan
    happens zero times per refresh. Non-associative measures (median,
    distinct) need sketches instead (q46/q91 show both)."""
    if not parts:
        raise ValueError("merge_partial_sums needs at least one partial "
                         "(an empty refresh cycle has nothing to merge)")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols])
