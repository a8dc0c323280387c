"""Static-HTML serving surface (reference app.py:147-191 Streamlit
per-student UI + README.md:26-27 Kibana dashboards, re-expressed as
self-contained build artifacts over the verified query registry).

These tests pin the contract: the HTML is fully self-contained (no
external URLs — also keeps the leak check trivially clean), every
chart ships a table view with the same numbers, user-derived strings
are escaped, both color schemes are defined, and the numbers shown
agree with the underlying registered queries.
"""

from __future__ import annotations

import re
import time
import uuid

from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.report import (
    column_chart,
    line_chart,
    render_dashboard,
    render_student_report,
)
from .conftest import SF_SMALL


def test_dashboard_self_contained_and_consistent(spark):
    html_text = render_dashboard(spark, SF_SMALL)
    # self-contained: no external fetches of any kind
    assert "http://" not in html_text and "https://" not in html_text
    assert "<link" not in html_text and "src=" not in html_text
    # one line chart + two column charts, each with a table view,
    # plus the pricing summary as a plain table
    assert html_text.count("<svg") == 3
    assert html_text.count('data-linechart="1"') == 1
    assert html_text.count("<table>") == 4
    # dark mode is selected, not an automatic flip
    assert "prefers-color-scheme: dark" in html_text
    # numbers agree with the registered query
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    trend = all_queries()["monthly_order_trend"].fn(spark, SF_SMALL).collect()
    n_orders = sum(r["n_orders"] for r in trend)
    assert f"{n_orders:,}" in html_text or f"{n_orders / 1000:,.1f}K" in html_text


def test_student_report_renders_transcript(spark):
    html_text = render_student_report(spark, SF_SMALL, custkey=1)
    assert "GPA (4.0 scale)" in html_text
    assert "hero" in html_text
    # status chip pairs icon + label, never color alone
    assert re.search(r"status-chip[^>]*>[✓▲✕] ", html_text)
    # transcript rows land in the table view
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.plans.student_progress import (
        transcript_lookup,
    )

    n = transcript_lookup(spark, SF_SMALL, custkey=1).count()
    assert f"{n} transcript rows" in html_text


def test_concurrent_collects_render_the_sequential_html(spark, monkeypatch):
    """Overlapping the panel collects changes when each panel's jobs
    run, never what the page shows: both pages are byte-identical to a
    render whose collects run one after another."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving import (
        report,
    )

    concurrent = (
        render_dashboard(spark, SF_SMALL),
        render_student_report(spark, SF_SMALL, custkey=1),
    )
    monkeypatch.setattr(
        report, "collect_concurrently", lambda frames: [df.collect() for df in frames]
    )
    sequential = (
        render_dashboard(spark, SF_SMALL),
        render_student_report(spark, SF_SMALL, custkey=1),
    )
    assert concurrent == sequential


def test_student_report_missing_student(spark):
    html_text = render_student_report(spark, SF_SMALL, custkey=99999999)
    assert "no records found" in html_text


def test_student_report_miss_leaves_no_job_running(spark):
    """A miss returns as soon as the hit check's collect does; the
    check's AQE stage jobs that are still running then are cancelled,
    while its jobs stay in the caller's job group."""
    sc = spark.sparkContext
    group = f"miss-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        html_text = render_student_report(spark, SF_SMALL, custkey=99999999)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    assert "no records found" in html_text
    assert jobs, "the hit check's jobs left the caller's job group"
    # the scheduler's event loop handles the cancel a moment after the
    # call; left alone, the jobs ran for seconds after the miss
    deadline = time.monotonic() + 0.25
    while (running := jobs & set(tracker.getActiveJobsIds())) and (
        time.monotonic() < deadline
    ):
        time.sleep(0.01)
    assert not running, f"hit-check jobs {sorted(running)} still running"


def test_chart_marks_follow_spec():
    html_chart = column_chart(["A", "B", "C"], [10.0, 25.0, 5.0], "n")
    # every bar: rounded data-end path, square baseline (path closes with Z)
    assert html_chart.count('class="mark"') == 3
    assert html_chart.count("Z\"") == 3
    # exactly ONE direct label (the max bar), not a number on every bar
    assert html_chart.count('class="dlabel"') == 1
    # per-mark tooltip data + native title fallback
    assert html_chart.count("data-v=") == 3 and html_chart.count("<title>") == 3

    line = line_chart(["m1", "m2", "m3"], [1.0, 3.0, 2.0], "v")
    assert 'class="line"' in line  # 2px stroke via CSS
    assert line.count('class="dot hoverdot"') == 1
    assert 'class="xhair"' in line  # crosshair layer for nearest-x hover
    assert line.count('class="dlabel"') == 1  # endpoint label only


def test_labels_are_escaped():
    evil = "<script>alert(1)</script>"
    html_chart = column_chart([evil], [1.0], "n")
    assert "<script>" not in html_chart
    assert "&lt;script&gt;" in html_chart


def test_line_chart_attr_payloads_are_escaped():
    # JSON payloads live in HTML attributes: quotes must not break out
    evil = 'a"b\'c<d'
    chart = line_chart([evil, "x"], [1.0, 2.0], "v")
    assert '<d' not in chart.split(">", 1)[0]  # nothing raw in the svg tag
    assert "&quot;" in chart and "&lt;d" in chart


def test_line_chart_empty_series_renders():
    chart = line_chart([], [], "v")
    assert "<svg" in chart and "polyline" in chart
    assert 'class="dlabel"' not in chart  # nothing to label


def test_ticks_cover_vmax():
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.report import (
        _ticks,
    )

    for vmax in (7, 12, 48, 99.5, 100, 1, 0.3, 123456):
        ticks = _ticks(vmax)
        assert ticks[-1] >= vmax, (vmax, ticks)
        assert ticks[0] == 0.0
        assert 2 <= len(ticks) <= 8, (vmax, ticks)


def test_bars_stay_inside_viewbox():
    # max value must not overshoot the plot area (regression: _ticks
    # used to top out below vmax, clipping the tallest bar)
    import re

    chart = column_chart(["a", "b"], [48.0, 10.0], "n")
    ys = [float(m) for m in re.findall(r'M[\d.]+,([-\d.]+)', chart)]
    assert all(y >= 0 for y in ys), ys


def test_chart_marks_carry_exact_query_numbers(spark):
    """Numeric cross-check (VERDICT r6 item 5): the SVG marks
    themselves — bar data-v/data-l pairs and the line chart's data-vs/
    data-ls payloads — equal the registered queries' collected results,
    value for value, not merely 'the HTML contains some number'."""
    import html as _html
    import json as _json

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.report import (
        _fmt,
    )

    html_text = render_dashboard(spark, SF_SMALL)
    qs = all_queries()

    # grade histogram bars: label -> value, exact
    grade_section = html_text.split("<h2>Grade distribution</h2>")[1].split(
        "<h2>"
    )[0]
    bars = {
        lab: v
        for v, lab in re.findall(
            r'data-v="([^"]*)" data-l="([^"]*)"', grade_section
        )
    }
    hist = qs["grade_histogram"].fn(spark, SF_SMALL).collect()
    expected = {_fmt(r["grade4"]): _fmt(float(r["n"])) for r in hist}
    assert bars == expected and bars  # same labels AND same values

    # monthly revenue line: ordered (month, revenue) series, exact
    m = re.search(r'data-vs="([^"]*)" data-ls="([^"]*)"', html_text)
    vs = _json.loads(_html.unescape(m.group(1)))
    ls = _json.loads(_html.unescape(m.group(2)))
    trend = sorted(
        qs["monthly_order_trend"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r["ym"],
    )
    assert ls == [r["ym"] for r in trend]
    assert vs == [_fmt(float(r["revenue"])) for r in trend]


def test_serve_loop_rerenders_on_fixture_change(spark, tmp_path):
    """`tools/report.py --serve` (the Streamlit-live-loop analog):
    content change in a watched parquet triggers exactly one re-render;
    untouched cycles re-render nothing."""
    import importlib.util
    import os
    import shutil
    import threading

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "report_cli",
        os.path.join(os.path.dirname(__file__), "..", "tools", "report.py"),
    )
    report_cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(report_cli)

    data = tmp_path / "data"
    data.mkdir()
    for t in os.listdir(SF_SMALL):
        if t.endswith(".parquet"):
            shutil.copyfile(os.path.join(SF_SMALL, t), str(data / t))
    out = str(tmp_path / "out")

    def shrink_orders():
        src = str(data / "orders.parquet")
        tmp = str(tmp_path / "orders_new.parquet")
        duckdb.connect().execute(
            f"COPY (SELECT * FROM read_parquet('{src}') "
            f"WHERE o_orderkey % 2 = 0) TO '{tmp}' (FORMAT PARQUET)"
        )
        os.replace(tmp, src)

    changer = threading.Timer(1.0, shrink_orders)
    changer.start()
    try:
        rerenders = report_cli.serve(
            spark, str(data), out, custkey=1, interval=0.5, max_cycles=20
        )
    finally:
        changer.cancel()
    assert rerenders == 1
    assert os.path.exists(os.path.join(out, "report.html"))


def test_student_report_numbers_match_queries_exactly(spark):
    """Numeric cross-check for the per-student page (r7 verdict polish):
    the hero GPA, every stat tile, and the cohort-histogram CHART MARKS
    (data-v/data-l pairs, not just the table) equal the registered
    queries' collected values — the same exactness the dashboard test
    already pins."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.plans.student_progress import (
        flagship_progress,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.report import (
        _fmt,
    )

    html_text = render_student_report(spark, SF_SMALL, custkey=1)
    s = (
        flagship_progress(spark, SF_SMALL)
        .filter("c_custkey = 1")
        .collect()[0]
    )

    # hero GPA, exact
    assert f"<div class='hero'>{_fmt(s['gpa4'])}</div>" in html_text
    # stat tiles, exact values under their labels
    for lab, val in (
        ("Credits earned", _fmt(s["credits_earned"])),
        ("Completion", _fmt(s["pct_complete"]) + "%"),
        ("Courses", _fmt(s["n_courses"])),
    ):
        assert (
            f"<div class='label'>{lab}</div><div class='value'>{val}</div>"
            in html_text
        ), lab

    # cohort histogram chart marks: label -> value, exact
    chart_section = html_text.split("<h2>Cohort grade distribution</h2>")[
        1
    ].split("<h2>")[0]
    bars = {
        lab: v
        for v, lab in re.findall(
            r'data-v="([^"]*)" data-l="([^"]*)"', chart_section
        )
    }
    hist = all_queries()["grade_histogram"].fn(spark, SF_SMALL).collect()
    expected = {_fmt(r["grade4"]): _fmt(float(r["n"])) for r in hist}
    assert bars == expected and bars
