"""The dashboard serving process (plans/serve.py): rerun-loop
semantics (every GET re-executes the parameterized query with the
URL's widget state), widget validation, and a real socket round trip.
"""

from __future__ import annotations

import json
import re
import threading
import urllib.request
from urllib.parse import quote

import pytest


@pytest.fixture(scope="module")
def app(spark):
    from sunat_rree_demo_spark.plans.kpi import (
        build_kpi_monthly,
        build_kpi_prod_monthly,
    )
    from sunat_rree_demo_spark.plans.serve import DashboardApp
    from sunat_rree_demo_spark.sources.trade import (
        synthetic_trade,
        synthetic_trade_prod,
    )

    return DashboardApp(spark,
                        build_kpi_monthly(synthetic_trade(spark)),
                        build_kpi_prod_monthly(
                            synthetic_trade_prod(spark)))


def test_index_lists_all_six_figures(app):
    status, body = app.render("/")
    assert status == 200
    for name in ("series_temporal", "estacionalidad_heatmap",
                 "distribucion_mensual", "tendencias"):
        assert f"/chart/{name}" in body


def test_chart_page_embeds_svg_and_payload(app):
    status, body = app.render("/chart/series_temporal")
    assert status == 200
    assert "<svg" in body and "chart-data" in body


def test_country_rerun_applies_year_range_widget(app):
    """The rerun loop: the same path with different widget state
    re-executes the filtered query — out-of-range years must not
    appear in the selected-range table."""
    status, body = app.render("/country?lo=2010&hi=2011")
    assert status == 200
    sel = body.split("selected range")[1]
    years = set(re.findall(r"<td>(20\d\d)</td>", sel))
    assert years == {"2010", "2011"}
    # widening the range is a fresh run with more rows
    _, wide = app.render("/country?lo=2010&hi=2013")
    assert wide.count("<tr>") > body.count("<tr>")


def test_ranking_metric_widget_and_validation(app):
    status, body = app.render("/ranking?year=2012&metric=balance&n=3")
    assert status == 200
    assert body.count("<tr>") == 4  # header + n rows
    status, body = app.render("/ranking?metric=bogus")
    assert status == 400 and "metric" in body
    status, _ = app.render("/country?lo=abc")
    assert status == 400


def test_unknown_paths_are_404(app):
    assert app.render("/nope")[0] == 404
    assert app.render("/chart/nope")[0] == 404


def test_category_tab_widgets_rerun_and_validate(app):
    """The category-analysis tab (app.py:400-665): year range +
    multiselect + analysis-type widgets drive the re-executed query."""
    status, body = app.render("/category?lo=2010&hi=2012&n=3")
    assert status == 200
    assert "<svg" in body  # stacked-area figure analog
    years = set(re.findall(r"<td>(20\d\d)</td>", body))
    assert years <= {"2010", "2011", "2012"}
    # manual multiselect: an explicit cats list narrows the page
    cat = "Químico"
    _, manual = app.render(
        f"/category?lo=2010&hi=2012&cats={cat}")
    assert manual.count("<tr>") < body.count("<tr>")
    assert cat in manual
    # one cats= value is one exact name, commas included; repeating the
    # parameter selects several (how <select multiple> submits)
    comma = "Maderas y Papeles, y sus Manufacturas"
    status, one = app.render(f"/category?lo=2010&hi=2012&cats={quote(comma)}")
    assert status == 200 and "1 categories" in one and comma in one
    status, two = app.render(
        f"/category?lo=2010&hi=2012&cats={quote(comma)}&cats={cat}")
    assert status == 200 and "2 categories" in two
    assert comma in two and cat in two
    # metric selectbox switches the figure without changing the grain
    status, cov = app.render("/category?lo=2010&hi=2012&metric=cov_ratio")
    assert status == 200 and "cov_ratio by year" in cov
    # widget validation → 400 (the rerun loop rejects bad state)
    assert app.render("/category?metric=bogus")[0] == 400
    assert app.render("/category?cats=NotACategory")[0] == 400
    assert app.render("/category?n=999")[0] == 400
    assert app.render("/category?lo=2012&hi=2010")[0] == 400


def test_insights_tab_sections_and_validation(app):
    """The insights tab (app.py:667-832): executive summary +
    per-category insights + quick-stats row, same widget semantics."""
    status, body = app.render("/insights")
    assert status == 200
    assert "executive summary" in body
    assert "Resumen Ejecutivo" in body  # build_summary_insights output
    assert "quick stats" in body
    assert "volatility" in body
    # manual cats widget is a fresh run scoped to that category
    status, narrow = app.render("/insights?lo=2012&hi=2012&cats=Químico")
    assert status == 200
    sect = narrow.split("category insights")[1].split("quick stats")[0]
    assert "Químico" in sect
    assert "Textil" not in sect  # other categories filtered out
    assert app.render("/insights?top_n=0")[0] == 400
    assert app.render("/insights?lo=x")[0] == 400
    # an empty filter window is the reference's no-data warning
    status, empty = app.render("/insights?lo=1901&hi=1901")
    assert status == 200 and "no data" in empty


def test_http_round_trip_on_a_real_socket(app):
    from sunat_rree_demo_spark.plans.serve import serve

    srv = serve(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        with urllib.request.urlopen(
                f"http://{host}:{port}/healthz", timeout=30) as r:
            assert r.status == 200
            years = json.loads(r.read())["years"]
            assert years[0] <= years[1]
        # content-type routes on the PARSED path (r11 advice fix):
        # a query string must not flip /healthz back to text/html
        with urllib.request.urlopen(
                f"http://{host}:{port}/healthz?x=1", timeout=30) as r:
            assert r.headers["Content-Type"] == "application/json"
            json.loads(r.read())
        with urllib.request.urlopen(
                f"http://{host}:{port}/country?lo={years[0]}"
                f"&hi={years[0]}", timeout=60) as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            assert "selected range" in r.read().decode()
    finally:
        srv.shutdown()
        srv.server_close()
