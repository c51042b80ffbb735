"""EDA job — Spark rebuild of ``eda.py``: trend smoothing, seasonality
matrix, σ-outlier detection, the summary report (``eda.py:27-298``) and
the S11 chart sink.

Chart sink design: the reference writes six Plotly HTML figures
(``eda.py:84,109,117,150,191,243``). The *engine* output is the chart
data — the series, matrices and flags each figure plots — not the
rendering, so the sink emits one JSON artifact per reference figure
(same basenames, ``.json``) from a single collected monthly frame. All
derived columns (moving averages, pct-change, YoY) are Spark window
expressions over the tiny (year, month) grain — ≤ hundreds of rows at
any corpus scale, so the unpartitioned window and the one collect are
scale-safe (SCALE.md §windows); Python only assembles dicts.
"""

from __future__ import annotations

import json
import math
import os
from typing import Any

from pyspark.sql import DataFrame, functions as F

from sunat_rree_demo_spark.functions.months import MONTH_NAMES_ES, month_name_es
from sunat_rree_demo_spark.operators.analytics import (
    monthly_profile,
    seasonality_matrix,
    sigma_outliers,
)
from sunat_rree_demo_spark.operators.windows import rolling_mean, series_window


def monthly_base(kpi_monthly: DataFrame) -> DataFrame:
    """The EDA working set: months with a complete balance (the
    reference reads ``WHERE balance IS NOT NULL``, eda.py:27 — months
    missing a flow are excluded from every EDA stat), in billions."""
    return kpi_monthly.filter(F.col("balance").isNotNull()).select(
        "year", "month_num",
        (F.col("export") / 1e9).alias("export_bn"),
        (F.col("import") / 1e9).alias("import_bn"),
        (F.col("balance") / 1e9).alias("balance_bn"),
    )


def summary(base: DataFrame) -> dict[str, Any]:
    """The eda_summary.md stat bundle (eda.py:243-298 /
    reports/eda/eda_summary.md): mean/std/max exports, surplus share,
    best/worst calendar month, outlier count — one reduction each, all
    on the tiny monthly grain."""
    stats = base.agg(
        F.count("*").alias("n_months"),
        F.round(F.avg("export_bn"), 2).alias("mean_export_bn"),
        F.round(F.stddev_samp("export_bn"), 2).alias("std_export_bn"),
        F.round(F.max("export_bn"), 2).alias("max_export_bn"),
        F.sum(F.when(F.col("balance_bn") > 0, 1).otherwise(0)).alias("surplus_months"),
    ).first().asDict()

    peak = (base.orderBy(F.desc("export_bn"), "year", "month_num")
            .select("year", "month_num").first())
    stats["peak_year"], stats["peak_month"] = (peak.year, peak.month_num) if peak else (None, None)

    profile = monthly_profile(base, value_col="export_bn").collect()
    if profile:
        best = max(profile, key=lambda r: r.mean_value)
        worst = min(profile, key=lambda r: r.mean_value)
        stats["best_calendar_month"] = best.month_num
        stats["worst_calendar_month"] = worst.month_num

    stats["n_outliers"] = sigma_outliers(
        base, "export_bn", order=["year", "month_num"]).count()
    return stats


def report_markdown(stats: dict[str, Any]) -> str:
    """Render the summary as the eda_summary.md shape (eda.py:243-298)."""
    if not stats.get("n_months") or stats.get("peak_month") is None:
        return "# EDA Summary\n\n- No data in the selected range\n"
    surplus_pct = (100.0 * stats["surplus_months"] / stats["n_months"]
                   if stats.get("n_months") else 0.0)
    return (
        "# EDA Summary\n\n"
        f"- Mean monthly exports: ${stats['mean_export_bn']}B\n"
        f"- Std monthly exports: ${stats['std_export_bn']}B\n"
        f"- Max monthly exports: ${stats['max_export_bn']}B "
        f"({stats['peak_year']}-{stats['peak_month']:02d})\n"
        f"- Surplus months: {stats['surplus_months']}/{stats['n_months']} "
        f"({surplus_pct:.1f}%)\n"
        f"- Outliers (|Δ%| > 2σ): {stats['n_outliers']}\n"
    )


def chart_frame(kpi_monthly: DataFrame) -> DataFrame:
    """One frame carrying every column the six charts need
    (``eda.py:49-235``): raw and billion-scaled flows, 12/24-month
    moving averages (``rolling(n, min_periods=1).mean()``), MoM
    pct-change and 12-row YoY — all as window expressions over the
    monthly grain, one window spec, one sort."""
    w = series_window()
    base = kpi_monthly.filter(F.col("balance").isNotNull())
    prev1 = F.lag("export", 1).over(w)
    prev12 = F.lag("export", 12).over(w)
    prev1_imp = F.lag("import", 1).over(w)
    return base.select(
        "year", "month_num",
        month_name_es("month_num").alias("month_name"),
        F.format_string("%d-%02d", "year", "month_num").alias("date"),
        "export", "import", "balance",
        (F.col("export") / 1e9).alias("export_bn"),
        (F.col("import") / 1e9).alias("import_bn"),
        (F.col("balance") / 1e9).alias("balance_bn"),
        (rolling_mean("export", 12, w, ndigits=None) / 1e9).alias("ma12_bn"),
        (rolling_mean("export", 24, w, ndigits=None) / 1e9).alias("ma24_bn"),
        F.when(prev1.isNotNull() & (prev1 != 0),
               (F.col("export") / prev1 - 1) * 100).alias("export_pct_change"),
        F.when(prev1_imp.isNotNull() & (prev1_imp != 0),
               (F.col("import") / prev1_imp - 1) * 100).alias("import_pct_change"),
        F.when(prev12.isNotNull() & (prev12 != 0),
               (F.col("export") / prev12 - 1) * 100).alias("export_yoy"),
    ).orderBy("year", "month_num")


def chart_bundle(kpi_monthly: DataFrame) -> dict[str, dict[str, Any]]:
    """The six reference figures (``eda.py:62-243``) as data bundles,
    keyed by the reference's artifact basenames. One Spark collect of
    the monthly chart frame + one 2-scalar aggregate (outlier μ/σ);
    everything after is dict assembly on ≤ hundreds of rows."""
    cf = chart_frame(kpi_monthly)
    rows = cf.collect()
    # sample (ddof=1) stats of the Δ% series — eda.py:163-164
    st = cf.agg(F.avg("export_pct_change").alias("m"),
                F.stddev_samp("export_pct_change").alias("s")).first()
    p_mean = st.m if st.m is not None else 0.0
    p_std = st.s if st.s is not None else 0.0

    dates = [r.date for r in rows]
    months_present = sorted({r.month_num for r in rows})
    years = sorted({r.year for r in rows})
    by_cell = {(r.month_num, r.year): r.export for r in rows}
    out_x, out_y = [], []
    for r in rows:
        if (r.export_pct_change is not None and p_std > 0
                and abs(r.export_pct_change - p_mean) > 2 * p_std):
            out_x.append(r.date)
            out_y.append(r.export_pct_change)
    monthly_avg = {
        m: sum(v) / len(v)
        for m, v in (
            (m, [r.export_bn for r in rows if r.month_num == m])
            for m in months_present
        )
    }
    return {
        # eda.py:62-84 — export/import/balance lines in $B
        "series_temporal": {
            "kind": "line", "x": dates,
            "series": {
                "Exportaciones": [r.export_bn for r in rows],
                "Importaciones": [r.import_bn for r in rows],
                "Balance": [r.balance_bn for r in rows],
            },
        },
        # eda.py:93-109 — month × year matrix of raw exports
        "estacionalidad_heatmap": {
            "kind": "heatmap", "x": years,
            "y": [MONTH_NAMES_ES[m - 1] for m in months_present],
            "z": [[by_cell.get((m, y)) for y in years] for m in months_present],
        },
        # eda.py:112-117 — raw export points grouped by month name
        "distribucion_mensual": {
            "kind": "box",
            "x": [r.month_name for r in rows],
            "y": [r.export for r in rows],
        },
        # eda.py:126-150 — export with 12/24-month moving averages, $B
        "tendencias": {
            "kind": "line", "x": dates,
            "series": {
                "Exportaciones": [r.export_bn for r in rows],
                "Media Móvil 12m": [r.ma12_bn for r in rows],
                "Media Móvil 24m": [r.ma24_bn for r in rows],
            },
        },
        # eda.py:159-191 — Δ% series with >2σ flags
        "outliers": {
            "kind": "scatter", "x": dates,
            "y": [r.export_pct_change for r in rows],
            "outliers": {"x": out_x, "y": out_y},
        },
        # eda.py:200-243 — 2×2 dashboard panels
        "dashboard_eda": {
            "kind": "dashboard",
            "panels": {
                "Comercio Exterior": {
                    "x": dates,
                    "series": {
                        "Export": [r.export_bn for r in rows],
                        "Import": [r.import_bn for r in rows],
                    },
                },
                "Balance Comercial": {
                    "x": dates,
                    "series": {"Balance": [r.balance_bn for r in rows]},
                },
                "Crecimiento YoY": {
                    "x": dates,
                    "series": {"Export YoY%": [r.export_yoy for r in rows]},
                },
                "Estacionalidad": {
                    "x": months_present,
                    "series": {
                        "Promedio Mensual": [monthly_avg[m] for m in months_present]
                    },
                },
            },
        },
    }


def _json_safe(v):
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


def write_chart_artifacts(kpi_monthly: DataFrame, out_dir: str) -> dict[str, str]:
    """S11 — persist the six chart-data bundles as JSON artifacts named
    after the reference's HTML sinks (``eda.py:84-243``). Returns
    {basename: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, bundle in chart_bundle(kpi_monthly).items():
        p = os.path.join(out_dir, f"{name}.json")
        with open(p, "w", encoding="utf-8") as f:
            json.dump(_json_safe(bundle), f, ensure_ascii=False, indent=1)
        paths[name] = p
    return paths


def reference_summary_stats(kpi_monthly: DataFrame) -> dict[str, Any]:
    """The stat bundle behind the committed ``reports/eda/eda_summary.md``
    (``eda.py:252-262``), reference semantics exactly: raw-USD means and
    sample std scaled to $B at format time, first-occurrence argmax for
    the peak date, per-Spanish-month mean argmax/argmin, and the 2σ
    Δ%-outlier count."""
    base = kpi_monthly.filter(F.col("balance").isNotNull())
    agg = base.agg(
        F.count("*").alias("total_months"),
        F.avg("export").alias("export_mean"),
        F.stddev_samp("export").alias("export_std"),
        F.max("export").alias("export_max"),
        F.sum(F.when(F.col("balance") > 0, 1).otherwise(0))
         .alias("balance_positive_months"),
    ).first().asDict()
    peak = (base.orderBy(F.desc("export"), "year", "month_num")
            .select("year", "month_num").first())
    agg["export_max_date"] = f"{peak.year}-{peak.month_num:02d}" if peak else None
    prof = monthly_profile(base, value_col="export").collect()
    if prof:
        # pandas idxmax/idxmin tie-break = first in (alphabetical) index
        # order; exact means make ties measure-zero, month_num suffices
        best = max(prof, key=lambda r: (r.mean_value, -r.month_num))
        worst = min(prof, key=lambda r: (r.mean_value, r.month_num))
        agg["peak_month"] = MONTH_NAMES_ES[best.month_num - 1]
        agg["low_month"] = MONTH_NAMES_ES[worst.month_num - 1]
    agg["outliers_count"] = sigma_outliers(
        base, "export", order=["year", "month_num"]).count()
    return agg


def reference_summary_markdown(kpi_monthly: DataFrame) -> str:
    """Render ``eda_summary.md`` exactly as the reference template does
    (``eda.py:264-295``, minus the run timestamp) so the output is
    byte-comparable against the committed report."""
    s = reference_summary_stats(kpi_monthly)
    pct = (100.0 * s["balance_positive_months"] / s["total_months"]
           if s["total_months"] else 0.0)
    return f"""# Reporte EDA - Observatorio de Comercio Perú

## 📊 Estadísticas Generales
- **Exportaciones promedio**: ${s['export_mean'] / 1e9:.1f}B USD
- **Desviación estándar**: ${s['export_std'] / 1e9:.1f}B USD
- **Máximo histórico**: ${s['export_max'] / 1e9:.1f}B USD ({s['export_max_date']})
- **Meses con superávit**: {s['balance_positive_months']}/{s['total_months']} ({pct:.1f}%)

## 🗓️ Patrones Estacionales
- **Mes pico**: {s['peak_month']} (mayor promedio de exportaciones)
- **Mes valle**: {s['low_month']} (menor promedio de exportaciones)

## 🔍 Eventos Atípicos
- **Outliers detectados**: {s['outliers_count']} eventos
- **Criterio**: Variaciones >2σ respecto a la media
"""


def run_eda(kpi_monthly: DataFrame) -> dict[str, Any]:
    """Full EDA pass; returns the stat bundle (the report string under
    'report', the seasonality matrix row count under 'seasonality_rows')."""
    base = monthly_base(kpi_monthly)
    stats = summary(base)
    stats["seasonality_rows"] = seasonality_matrix(
        base, value_col="export_bn").count()
    stats["report"] = report_markdown(stats)
    return stats
