"""Live dashboard serving process — the reference's Streamlit rerun
loop (``app.py:108-139``: every widget interaction re-runs the script
with the new widget state) re-expressed as a zero-dependency HTTP
server over the parameterized query layer:

- every GET re-executes the corresponding ``plans.dashboard`` /
  ``plans.eda`` DataFrame query with the request's query parameters as
  the widget state (year-range slider ``app.py:165-188``, metric
  selector ``app.py:447-459`` → ``?lo=&hi=&metric=&n=``), exactly the
  rerun-on-interaction semantics;
- figures are the inline-SVG bundles of ``plans.charts_html`` (the
  repo's plotly analog), tables are driver-side string assembly over
  the ≤hundreds of rows a dashboard page shows;
- ``@st.cache_data`` (``app.py:23,58``) maps to the ``.cache()``-ed
  KPI frames held by the app object — the expensive fact scan runs
  once per process, the per-request work is the filtered tail.

stdlib ``http.server`` only (the container has no web framework);
``ThreadingHTTPServer`` so a slow Spark job on one request doesn't
block the next — Spark sessions are thread-safe for concurrent
actions. Run it:

    python -m sunat_rree_demo_spark.plans.serve [port]

Scale note: the serving tier holds no data — every page is a filtered
aggregate of the cached KPI frames (bounded grain: year × month ×
category), so the process is as big as its largest PAGE, never the
corpus. At 100 TB the same handlers sit in front of the warehouse
tables and partition pruning does the scoping.
"""

from __future__ import annotations

import html
import json
from typing import Any
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from sunat_rree_demo_spark.plans.dashboard import (
    RANKING_METRICS,
    category_annual,
    category_series,
    country_detail_tail,
    country_series,
    country_ytd,
    ranking_table,
    top_categories,
)

_STYLE = """
body{font-family:sans-serif;margin:2em;max-width:70em}
table{border-collapse:collapse}
td,th{border:1px solid #bbb;padding:2px 8px;text-align:right}
th{background:#eee}
nav a{margin-right:1em}
"""


class BadRequest(ValueError):
    """Invalid widget state in the query string → HTTP 400."""


def _page(title: str, body: str) -> str:
    from sunat_rree_demo_spark.plans.charts_html import panzoom_script

    return ("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
            f"<title>{html.escape(title)}</title>"
            f"<style>{_STYLE}</style></head>\n<body>"
            "<nav><a href=\"/\">index</a>"
            "<a href=\"/country\">country</a>"
            "<a href=\"/category\">category</a>"
            "<a href=\"/ranking\">ranking</a>"
            "<a href=\"/insights\">insights</a></nav>"
            f"<h1>{html.escape(title)}</h1>{body}"
            # r11: the reference's Plotly figures pan/zoom; the SVG
            # analogs get wheel-zoom/drag-pan/dblclick-reset here
            f"{panzoom_script()}</body></html>\n")


def _table(rows: list, columns: list[str]) -> str:
    head = "".join(f"<th>{html.escape(c)}</th>" for c in columns)
    out = [f"<table><tr>{head}</tr>"]
    for r in rows:
        cells = "".join(
            f"<td>{html.escape('' if v is None else str(v))}</td>"
            for v in (r[c] for c in columns))
        out.append(f"<tr>{cells}</tr>")
    out.append("</table>")
    return "".join(out)


def _int_param(q: dict, name: str, default: int) -> int:
    try:
        return int(q.get(name, [default])[0])
    except (TypeError, ValueError):
        raise BadRequest(f"{name} must be an integer")


def _md_lite(text: str) -> str:
    """The insight strings are Streamlit-flavored markdown
    (``app.py:700,732`` renders them with st.markdown) — escape, then
    translate the two constructs they actually use: ``**bold**`` and
    line breaks. No general markdown engine in a stdlib server."""
    import re

    out = html.escape(text)
    out = re.sub(r"\*\*(.+?)\*\*", r"<strong>\1</strong>", out,
                 flags=re.S)
    out = re.sub(r"^## (.*)$", r"<h3>\1</h3>", out, flags=re.M)
    return out.replace("\n", "<br>\n")


class DashboardApp:
    """The serving state: one SparkSession + the two cached KPI frames
    every page filters. Pages return complete HTML strings so the app
    is testable without a socket."""

    def __init__(self, spark: SparkSession, kpi_monthly: DataFrame,
                 kpi_prod: DataFrame):
        self.spark = spark
        self.kpi_monthly = kpi_monthly.cache()
        self.kpi_prod = kpi_prod.cache()
        yrs = [r.year for r in
               kpi_monthly.select("year").distinct().collect()]
        self.min_year, self.max_year = min(yrs), max(yrs)
        # the multiselect's option list (app.py:434 all_categories) —
        # small driver-side set, collected once per process like the
        # year bounds above
        self.categories = sorted(
            r.category for r in
            kpi_prod.select("category").distinct().collect())

    @classmethod
    def from_synthetic(cls, spark: SparkSession) -> "DashboardApp":
        """The FIXTURES.md synthetic warehouse — the same inputs the
        dashboard tests use, so the process runs anywhere."""
        from sunat_rree_demo_spark.plans.kpi import (
            build_kpi_monthly,
            build_kpi_prod_monthly,
        )
        from sunat_rree_demo_spark.sources.trade import (
            synthetic_trade,
            synthetic_trade_prod,
        )

        return cls(spark,
                   build_kpi_monthly(synthetic_trade(spark)),
                   build_kpi_prod_monthly(synthetic_trade_prod(spark)))

    # ------------------------------------------------------------ pages
    def page_index(self) -> str:
        from sunat_rree_demo_spark.plans.eda import chart_bundle

        charts = "".join(
            f"<li><a href=\"/chart/{n}\">{html.escape(n)}</a></li>"
            for n in sorted(chart_bundle(self.kpi_monthly)))
        return _page("trade dashboard", (
            f"<p>years {self.min_year}–{self.max_year}; every page "
            "re-runs its parameterized query with the URL's widget "
            "state.</p>"
            f"<h2>figures</h2><ul>{charts}</ul>"
            "<h2>tabs</h2><ul>"
            "<li><a href=\"/country\">country series"
            " (?lo=&amp;hi=)</a></li>"
            "<li><a href=\"/category\">category analysis"
            " (?lo=&amp;hi=&amp;n=&amp;cats=&amp;metric=)</a></li>"
            "<li><a href=\"/ranking\">category ranking"
            " (?year=&amp;metric=&amp;n=)</a></li>"
            "<li><a href=\"/insights\">actionable insights"
            " (?lo=&amp;hi=&amp;cats=&amp;top_n=)</a></li></ul>"))

    def page_chart(self, name: str) -> str:
        from sunat_rree_demo_spark.plans.charts_html import (
            render_chart_html,
        )
        from sunat_rree_demo_spark.plans.eda import chart_bundle

        bundles = chart_bundle(self.kpi_monthly)
        if name not in bundles:
            raise KeyError(name)
        return render_chart_html(name, bundles[name])

    def page_country(self, q: dict) -> str:
        lo = _int_param(q, "lo", self.min_year)
        hi = _int_param(q, "hi", self.max_year)
        if lo > hi:
            raise BadRequest("lo must be <= hi")
        series = country_series(self.kpi_monthly, (lo, hi))
        rows = series.collect()
        ytd = country_ytd(self.kpi_monthly).collect()
        tail = country_detail_tail(self.kpi_monthly, k=12).collect()
        cols = [c for c in ("year", "month_num", "export", "import",
                            "balance", "cov_ratio")
                if rows and c in rows[0].asDict()]
        body = (
            f"<p>{len(rows)} months in [{lo}, {hi}]"
            f" (slider range {self.min_year}–{self.max_year})</p>"
            "<h2>year to date</h2>"
            + _table(ytd, list(ytd[0].asDict()) if ytd else [])
            + "<h2>latest 12 months</h2>"
            + _table(tail, list(tail[0].asDict()) if tail else [])
            + f"<h2>selected range</h2>{_table(rows, cols)}")
        return _page(f"country {lo}-{hi}", body)

    def _cats_widget(self, q: dict, n_default: int) -> list[str]:
        """The category multiselect (``app.py:434-473``): explicit
        ``cats=`` parameters are the manual mode, one exact category
        name each, repeated to select several (``cats=a&cats=b``, what
        an HTML ``<select multiple>`` submits — names may contain
        commas); absent, the pre-selection is the top-N by exports
        (``app.py:447-459``). Unknown names are a 400 — the reference
        widget can only submit known options."""
        cats = q.get("cats")
        if cats:
            bad = sorted(set(cats) - set(self.categories))
            if bad:
                raise BadRequest(f"unknown categories: {', '.join(bad)}")
            return cats
        n = _int_param(q, "n", n_default)
        if not 1 <= n <= 50:
            raise BadRequest("n must be in [1, 50]")
        return top_categories(self.kpi_prod, n)

    def page_category(self, q: dict) -> str:
        """Category-analysis tab (``app.py:400-665``): year-range +
        category multiselect + analysis-type widgets over the product
        KPI frame; YTD per-category metrics, the stacked-area source
        table at annual grain, and the inline-SVG figure analog."""
        from sunat_rree_demo_spark.plans.charts_html import render_figure

        # slider default (app.py:428): the last six years of the data
        lo = _int_param(q, "lo", max(self.min_year, self.max_year - 5))
        hi = _int_param(q, "hi", self.max_year)
        if lo > hi:
            raise BadRequest("lo must be <= hi")
        metric = q.get("metric", ["exp"])[0]
        if metric not in RANKING_METRICS:
            raise BadRequest(f"metric must be one of {RANKING_METRICS}")
        cats = self._cats_widget(q, n_default=10)
        filtered = category_series(self.kpi_prod, (lo, hi), cats)
        annual = category_annual(filtered).collect()
        if not annual:
            return _page(f"category {lo}-{hi}",
                         "<p>no data for the selected filters</p>")
        # YTD metrics (app.py:497-529): the filtered range's last year
        cur = max(r.year for r in annual)
        ytd = [r for r in annual if r.year == cur]
        t_exp = sum(r.exp or 0.0 for r in ytd)
        t_imp = sum(r.imp or 0.0 for r in ytd)
        t_cov = t_exp / t_imp * 100 if t_imp > 0 else 0.0
        # stacked-area source pivot: year × category of the metric
        years = sorted({r.year for r in annual})
        cell = {(r.year, r.category): r[metric] for r in annual}
        series = {c: [cell.get((y, c)) for y in years]
                  for c in cats if any((y, c) in cell for y in years)}
        fig = render_figure({"kind": "line",
                             "x": [str(y) for y in years],
                             "series": dict(list(series.items())[:8])})
        body = (
            f"<p>{len(cats)} categories, years [{lo}, {hi}], "
            f"metric <b>{html.escape(metric)}</b> "
            f"(widgets: ?lo=&amp;hi=&amp;n=&amp;cats=&amp;metric=)</p>"
            f"<h2>metrics {cur}</h2>"
            f"<p>exports {t_exp:,.0f} · imports {t_imp:,.0f} · "
            f"balance {t_exp - t_imp:,.0f} · coverage {t_cov:.1f}%</p>"
            + _table(ytd, list(ytd[0].asDict()) if ytd else [])
            + f"<h2>{html.escape(metric)} by year</h2>"
            + f"<div class=\"viz-root\">{fig}</div>"
            + "<h2>annual detail</h2>"
            + _table(annual, list(annual[0].asDict())))
        return _page(f"category {lo}-{hi}", body)

    def page_insights(self, q: dict) -> str:
        """Insights tab (``app.py:667-832``): executive summary, the
        per-category actionable insights over the current widget
        filters, and the quick-stats metric row."""
        from sunat_rree_demo_spark.plans.insights import (
            build_insights,
            build_summary_insights,
            quick_stats,
        )

        # defaults mirror app.py:716: last three years, top-5 cats
        lo = _int_param(q, "lo", max(self.min_year, self.max_year - 2))
        hi = _int_param(q, "hi", self.max_year)
        if lo > hi:
            raise BadRequest("lo must be <= hi")
        top_n = _int_param(q, "top_n", 3)
        if not 1 <= top_n <= 10:
            raise BadRequest("top_n must be in [1, 10]")
        cats = self._cats_widget(q, n_default=5)
        summary = build_summary_insights(self.kpi_monthly, self.kpi_prod)
        filtered = category_series(self.kpi_prod, (lo, hi), cats)
        if filtered.isEmpty():
            # app.py:760: the no-data warning instead of empty widgets
            body = ("<p>no data for the current filters — widen the "
                    "year range or category selection</p>")
            return _page("insights", body)
        insights = build_insights(filtered, top_n=top_n)
        stats = quick_stats(filtered)
        tiles = "".join(
            f"<td><b>{html.escape(str(v))}</b><br>"
            f"{html.escape(k.replace('_', ' '))}</td>"
            for k, v in (
                ("latest year", stats.get("latest_year")),
                ("active categories", stats.get("active_categories")),
                ("best month", stats.get("best_month")),
                ("volatility",
                 f"{stats.get('volatility', 0.0):.1f}%")))
        body = (
            "<h2>executive summary</h2>"
            + "".join(f"<div>{_md_lite(s)}</div>" for s in summary)
            + f"<h2>category insights ({lo}–{hi})</h2>"
            + "<hr>".join(f"<div>{_md_lite(s)}</div>" for s in insights)
            + "<h2>quick stats</h2>"
            + f"<table><tr>{tiles}</tr></table>")
        return _page("insights", body)

    def page_ranking(self, q: dict) -> str:
        year = _int_param(q, "year", self.max_year)
        n = _int_param(q, "n", 10)
        metric = q.get("metric", ["exp"])[0]
        if metric not in RANKING_METRICS:
            raise BadRequest(
                f"metric must be one of {RANKING_METRICS}")
        rows = ranking_table(self.kpi_prod, year, metric, n).collect()
        cols = list(rows[0].asDict()) if rows else []
        return _page(f"ranking {year} by {metric}",
                     _table(rows, cols))

    # ---------------------------------------------------------- routing
    def render(self, path: str) -> tuple[int, str]:
        """(status, html) for one GET — the whole app as a pure
        function of the URL, which is what the tests drive."""
        u = urlparse(path)
        q = parse_qs(u.query)
        try:
            if u.path in ("", "/"):
                return 200, self.page_index()
            if u.path.startswith("/chart/"):
                return 200, self.page_chart(u.path[len("/chart/"):])
            if u.path == "/country":
                return 200, self.page_country(q)
            if u.path == "/category":
                return 200, self.page_category(q)
            if u.path == "/insights":
                return 200, self.page_insights(q)
            if u.path == "/ranking":
                return 200, self.page_ranking(q)
            if u.path == "/healthz":
                return 200, json.dumps(
                    {"years": [self.min_year, self.max_year]})
        except BadRequest as exc:
            return 400, _page("bad request", html.escape(str(exc)))
        except KeyError as exc:
            return 404, _page("not found", html.escape(str(exc)))
        return 404, _page("not found", html.escape(u.path))


def serve(app: DashboardApp, host: str = "127.0.0.1", port: int = 0):
    """Bind a ThreadingHTTPServer over ``app`` and return it (caller
    runs ``serve_forever``, or drives it from a thread in tests).
    port=0 picks a free port — read ``server_address``."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server contract
            status, body = app.render(self.path)
            data = body.encode("utf-8")
            self.send_response(status)
            # parse once: render() routes on the PARSED path, so the
            # content-type decision must too ('/healthz?x=1' is JSON)
            ctype = ("application/json"
                     if urlparse(self.path).path == "/healthz"
                     else "text/html; charset=utf-8")
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args: Any) -> None:
            pass  # tests and batch runs stay quiet

    return ThreadingHTTPServer((host, port), Handler)


def main() -> None:
    import sys

    from sunat_rree_demo_spark.session import get_spark

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8050
    app = DashboardApp.from_synthetic(get_spark("dashboard"))
    srv = serve(app, port=port)
    print(f"serving on http://{srv.server_address[0]}:"
          f"{srv.server_address[1]}/")
    srv.serve_forever()


if __name__ == "__main__":
    main()
