"""The SQL view layer — Spark-SQL port of the reference's reusable view
stack (``models/metrics.sql``): ``base_monthly`` (:6-29) →
``metrics_windowed`` (:32-53), plus ``quarterly_summary`` (:56-70) and
``annual_performance`` (:73-82) over the base.

The SQL is generated once and parameterized only by the identifier-quote
character, so the *identical* semantics can be executed by Spark
(backtick) and by DuckDB (double-quote) in the parity tests — two
engines, one view text. ``import`` is the lone reserved-ish identifier
forcing the quoting.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sunat_rree_demo_spark.functions.months import month_num_from_name_sql


def view_sql(q: str = "`") -> dict[str, str]:
    """SELECT bodies for each view, keyed by view name, with identifiers
    quoted by ``q`` (backtick for Spark, double-quote for DuckDB)."""
    imp = f"{q}import{q}"
    win = "ORDER BY year, month_num"
    frame3 = f"{win} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"
    ffirst = f"{win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    base_monthly = f"""
    SELECT year, month,
           {month_num_from_name_sql("month")} AS month_num,
           SUM(CASE WHEN flow = 'export' THEN usd END) AS export,
           SUM(CASE WHEN flow = 'import' THEN usd END) AS {imp}
    FROM trade
    WHERE month != 'Total'
    GROUP BY year, month
    """

    def pct(col: str, n: int) -> str:
        return f"ROUND(({col} / LAG({col}, {n}) OVER ({win}) - 1) * 100, 2)"

    metrics_windowed = f"""
    SELECT *,
           export - {imp} AS balance,
           {pct('export', 1)} AS export_mom,
           {pct(imp, 1)} AS import_mom,
           {pct('export', 12)} AS export_yoy,
           {pct(imp, 12)} AS import_yoy,
           ROUND(AVG(export) OVER ({frame3}), 0) AS export_ma3,
           ROUND(AVG({imp}) OVER ({frame3}), 0) AS import_ma3,
           ROUND(export / FIRST_VALUE(export) OVER ({ffirst}) * 100, 2) AS idx2005_export,
           ROUND({imp} / FIRST_VALUE({imp}) OVER ({ffirst}) * 100, 2) AS idx2005_import
    FROM base_monthly
    """

    quarterly_summary = f"""
    SELECT year,
           CASE WHEN month_num BETWEEN 1 AND 3 THEN 'Q1'
                WHEN month_num BETWEEN 4 AND 6 THEN 'Q2'
                WHEN month_num BETWEEN 7 AND 9 THEN 'Q3'
                ELSE 'Q4' END AS quarter,
           ROUND(SUM(export) / 1000000, 1) AS export_usd_millions,
           ROUND(SUM({imp}) / 1000000, 1) AS import_usd_millions,
           ROUND(SUM(export - {imp}) / 1000000, 1) AS balance_usd_millions
    FROM base_monthly
    GROUP BY year, quarter
    """

    annual_performance = f"""
    SELECT year,
           ROUND(SUM(export) / 1000000000, 2) AS export_usd_billions,
           ROUND(SUM({imp}) / 1000000000, 2) AS import_usd_billions,
           ROUND(SUM(export - {imp}) / 1000000000, 2) AS balance_usd_billions,
           ROUND((SUM(export) / LAG(SUM(export)) OVER (ORDER BY year) - 1) * 100, 1)
             AS export_yoy_growth
    FROM base_monthly
    GROUP BY year
    """

    return {
        "base_monthly": base_monthly,
        "metrics_windowed": metrics_windowed,
        "quarterly_summary": quarterly_summary,
        "annual_performance": annual_performance,
    }


def register_sql_views(spark: SparkSession) -> list[str]:
    """CREATE OR REPLACE TEMP VIEW for the whole stack (expects a
    ``trade`` temp view, e.g. via sources.trade.register_trade_views)."""
    created = []
    for name, body in view_sql("`").items():
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {body}")
        created.append(name)
    return created
