"""Projections / filters / predicates (SURVEY.md §2.2, F1-F11).

All are thin, declarative Column/DataFrame builders so Catalyst can push
them into the scan (``PushedFilters`` in the physical plan) — the
reference applies the same predicates eagerly in pandas after full
materialization (e.g. filter-after-load at ``app.py:187``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def filter_not_total(df: DataFrame, month_col: str = "month") -> DataFrame:
    """F1 — the canonical fact filter ``month != 'Total'`` that every
    consumer of the ``trade`` tables applies (``metrics.py:26``,
    ``models/metrics.sql:27``, ``app.py:46``)."""
    return df.filter(F.col(month_col) != "Total")


def ensure_columns(df: DataFrame, cols: dict[str, object]) -> DataFrame:
    """F10 — column injection/defaulting: inject missing columns as
    literals, mirroring the reference's defensive
    ``if 'export' not in wide.columns`` (``metrics.py:40-43``)."""
    for name, default in cols.items():
        if name not in df.columns:
            df = df.withColumn(name, F.lit(default).cast("double") if default is None or isinstance(default, float) else F.lit(default))
    return df


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str],
                  compare_cols: list[str]) -> DataFrame:
    """Snapshot/CDC diff: classify every key across two versions of a
    keyed relation as ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, any compare column differs) or ``unchanged``.
    Returns one row per key: (*keys, change_type, *old_/*new_ compare
    columns) — the generic "what moved between yesterday's mart and
    today's" operator behind audit reports and incremental publishing.

    Scale shape: ONE full-outer shuffle join on the key (both sides
    co-partitioned; no driver materialization), with the comparison as
    a null-safe conjunction (``eqNullSafe`` — NULL = NULL holds, so a
    NULL→value move reads as changed, not unchanged). Downstream
    aggregates of the classification are key-grain reductions."""
    # explicit presence markers, NOT compare-column null checks: a row
    # whose compare columns are all legitimately NULL must still count
    # as present on its side
    o = old.select(*key_cols, F.lit(1).alias("_in_old"),
                   *[F.col(c).alias(f"old_{c}") for c in compare_cols])
    n = new.select(*key_cols, F.lit(1).alias("_in_new"),
                   *[F.col(c).alias(f"new_{c}") for c in compare_cols])
    # full-outer on the key list; key columns coalesce automatically
    # for list-form join keys
    j = o.join(n, key_cols, "full_outer")
    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("change_type", change).drop("_in_old", "_in_new")


def resolve_alias(df: DataFrame, *candidates: str) -> str:
    """The reference's ``exp`` vs ``export`` schema-dynamic resolution
    (``app.py:501-504``, ``insights_engine.py:147-151``): return the first
    candidate column present, else raise."""
    for c in candidates:
        if c in df.columns:
            return c
    raise KeyError(f"none of {candidates!r} in {df.columns}")
