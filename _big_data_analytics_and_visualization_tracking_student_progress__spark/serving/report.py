"""Self-contained HTML reports over the registered queries.

Reference parity: the Streamlit app renders a per-student transcript +
GPA/progress view (app.py:58-191) and Kibana renders the score
histogram and per-term trend dashboards (README.md:26-27, 43-44).
Here both surfaces are STATIC artifacts: `render_student_report` and
`render_dashboard` run the already-verified registered queries
(flagship_progress, transcript_lookup, grade_histogram,
monthly_order_trend) and emit one self-contained HTML file — inline
SVG charts, inline CSS (light + dark via `prefers-color-scheme`),
inline vanilla-JS hover tooltips, zero external resources.

Design rules applied (so the charts read correctly, not just render):
- forms by job: hero figure + stat tiles for headline numbers, a
  column chart for the grade distribution (single series, one hue),
  a 2px line for the monthly trend, a plain table for the transcript
  (many meaningful columns = a table, not more colors);
- marks: bars ≤24px thick with a 4px rounded data-end and a square
  baseline, hairline solid gridlines, clean-number axis ticks,
  selective direct labels (the max bar / the line's endpoint — never
  every point), markers carry a 2px surface ring;
- color: one categorical slot for data marks, status colors reserved
  for status and always paired with an icon + label, all text in text
  tokens (never the series hue);
- accessibility: every chart ships a table view of the same numbers,
  tooltips enhance but never gate, labels are inserted as escaped
  text.

Scale posture: rendering collects only AGGREGATED query results (a
histogram's buckets, one student's transcript page, monthly rollups) —
bounded control data, same as every other driver-side artifact.  The
heavy work stays in the distributed queries.

Latency posture: the dashboard's five panels, and the student page's
transcript and grade histogram, are independent queries.  Each render
builds its frames on the calling thread (the registry builders and
`load_table`'s schema caches are not made for concurrent use), then
collects them together through `collect.collect_concurrently`, one
driver thread per frame, so a render waits for its slowest panel
instead of the sum of its panels.  The jobs are the same ones: a
render issues as many jobs, stages and tasks as before, all under the
caller's job group.  The student page's hit check stays a sequential
lookup ahead of them, so a miss still costs one query; its jobs carry
a job tag, and whatever AQE left running of them is cancelled once its
collect returns.
`tests/test_job_counts.py` pins the dashboard's job count under the
caller's group, and `tests/test_serving_report.py` pins both pages
byte-identical to a sequential collect.
"""

from __future__ import annotations

import html
import uuid
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .collect import collect_concurrently

# Palette: validated default slots (light / dark), one categorical hue
# for data marks, reserved status steps, text tokens for all text.
_CSS = """
:root { color-scheme: light dark; }
.viz-root {
  color-scheme: light;
  --surface-1: #fcfcfb; --surface-2: #f1f0ec;
  --text-primary: #0b0b0b; --text-secondary: #52514e;
  --series-1: #2a78d6; --grid: #e4e3de;
  --status-good: #0ca30c; --status-warning: #fab219;
  --status-critical: #d03b3b;
  background: var(--surface-1); color: var(--text-primary);
  font: 14px/1.45 system-ui, sans-serif; margin: 0; padding: 24px;
}
@media (prefers-color-scheme: dark) {
  .viz-root {
    color-scheme: dark;
    --surface-1: #1a1a19; --surface-2: #242422;
    --text-primary: #ffffff; --text-secondary: #c3c2b7;
    --series-1: #3987e5; --grid: #32312e;
  }
}
.viz-root h1 { font-size: 20px; margin: 0 0 4px; }
.viz-root h2 { font-size: 15px; margin: 28px 0 10px; }
.viz-root .sub { color: var(--text-secondary); margin: 0 0 20px; }
.hero { font-size: 48px; font-weight: 600; letter-spacing: -0.02em; }
.hero-label { color: var(--text-secondary); }
.tiles { display: flex; gap: 12px; flex-wrap: wrap; margin: 16px 0; }
.tile { background: var(--surface-2); border-radius: 8px;
        padding: 12px 16px; min-width: 120px; }
.tile .label { color: var(--text-secondary); font-size: 12px; }
.tile .value { font-size: 22px; font-weight: 600; }
.status-chip { display: inline-flex; align-items: center; gap: 6px;
               font-weight: 600; }
svg text { fill: var(--text-secondary); font: 11px system-ui, sans-serif; }
svg .dlabel { fill: var(--text-primary); font-weight: 600; }
svg .grid { stroke: var(--grid); stroke-width: 1; }
svg .mark { fill: var(--series-1); }
svg .mark:hover { opacity: 0.85; }
svg .line { stroke: var(--series-1); stroke-width: 2; fill: none;
            stroke-linejoin: round; stroke-linecap: round; }
svg .dot { fill: var(--series-1); stroke: var(--surface-1);
           stroke-width: 2; }
svg .hit { fill: transparent; }
svg .xhair { stroke: var(--text-secondary); stroke-width: 1;
             visibility: hidden; }
table { border-collapse: collapse; margin-top: 8px; }
th, td { text-align: right; padding: 4px 10px;
         border-bottom: 1px solid var(--grid);
         font-variant-numeric: tabular-nums; }
th:first-child, td:first-child { text-align: left; }
th { color: var(--text-secondary); font-weight: 500; }
details { margin: 8px 0 0; }
summary { color: var(--text-secondary); cursor: pointer; }
#tip { position: fixed; pointer-events: none; visibility: hidden;
       background: var(--surface-2); color: var(--text-primary);
       border: 1px solid var(--grid); border-radius: 6px;
       padding: 6px 10px; font-size: 12px; }
#tip b { font-size: 13px; }
"""

# Hover layer: per-mark tooltips on bars, nearest-x crosshair on lines.
# Labels go through textContent only.
_JS = """
(function () {
  var tip = document.getElementById('tip');
  var val = document.createElement('b');
  var lab = document.createElement('div');
  tip.appendChild(val); tip.appendChild(lab);
  function show(e, v, l) {
    val.textContent = v; lab.textContent = l;
    tip.style.left = (e.clientX + 14) + 'px';
    tip.style.top = (e.clientY + 14) + 'px';
    tip.style.visibility = 'visible';
  }
  function hide() { tip.style.visibility = 'hidden'; }
  document.querySelectorAll('[data-v]').forEach(function (m) {
    m.addEventListener('pointermove', function (e) {
      show(e, m.dataset.v, m.dataset.l);
    });
    m.addEventListener('pointerleave', hide);
  });
  document.querySelectorAll('svg[data-linechart]').forEach(function (svg) {
    var xs = JSON.parse(svg.dataset.xs), vs = JSON.parse(svg.dataset.vs),
        ls = JSON.parse(svg.dataset.ls);
    if (!xs.length) return;
    var xh = svg.querySelector('.xhair'), dot = svg.querySelector('.hoverdot');
    svg.addEventListener('pointermove', function (e) {
      var pt = svg.createSVGPoint(); pt.x = e.clientX; pt.y = e.clientY;
      var p = pt.matrixTransform(svg.getScreenCTM().inverse());
      var best = 0, bd = 1e9;
      for (var i = 0; i < xs.length; i++) {
        var d = Math.abs(xs[i] - p.x);
        if (d < bd) { bd = d; best = i; }
      }
      xh.setAttribute('x1', xs[best]); xh.setAttribute('x2', xs[best]);
      xh.style.visibility = 'visible';
      dot.setAttribute('cx', xs[best]);
      dot.setAttribute('cy', svg.dataset.ys ? JSON.parse(svg.dataset.ys)[best] : 0);
      dot.style.visibility = 'visible';
      show(e, vs[best], ls[best]);
    });
    svg.addEventListener('pointerleave', function () {
      xh.style.visibility = 'hidden'; dot.style.visibility = 'hidden';
      hide();
    });
  });
})();
"""


def _esc(v) -> str:
    return html.escape(str(v))


def _fmt(v: float) -> str:
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    if isinstance(v, int):
        return f"{v:,}"
    return f"{v:,.2f}"


def _compact(v: float) -> str:
    for cut, suf in ((1e9, "B"), (1e6, "M"), (1e3, "K")):
        if abs(v) >= cut:
            return f"{v / cut:,.1f}{suf}"
    return _fmt(v)


def _ticks(vmax: float, n: int = 4) -> list[float]:
    """Clean-number axis ticks covering [0, vmax]: the last tick is
    always >= vmax, so no mark can overshoot the plot area."""
    if vmax <= 0:
        return [0.0]
    raw = vmax / n
    mag = 10 ** len(str(int(raw))) / 10
    step = next(
        m * mag for m in (1, 2, 2.5, 5, 10) if m * mag >= raw
    )
    out, t = [0.0], 0.0
    while t < vmax - 1e-9:
        t += step
        out.append(t)
    return out


def _cell(c) -> str:
    if c is None:
        return "–"
    return _esc(_fmt(c) if isinstance(c, (int, float)) else c)


def _table(
    headers: Sequence[str],
    rows: Sequence[Sequence],
    summary: str,
    collapsed: bool = True,
) -> str:
    head = "".join(f"<th>{_esc(h)}</th>" for h in headers)
    body = "".join(
        "<tr>" + "".join(f"<td>{_cell(c)}</td>" for c in r) + "</tr>"
        for r in rows
    )
    table = (
        f"<table><thead><tr>{head}</tr></thead>"
        f"<tbody>{body}</tbody></table>"
    )
    if not collapsed:
        return table
    return f"<details><summary>{_esc(summary)}</summary>{table}</details>"


def column_chart(
    labels: Sequence[str], values: Sequence[float], value_name: str,
    width: int = 640, height: int = 240,
) -> str:
    """Single-series column chart: ≤24px bars, 4px rounded data-end with
    a square baseline, hairline grid, clean ticks, direct label on the
    max bar only (the rest ride the axis/tooltip/table)."""
    ml, mb, mt = 48, 24, 14
    pw, ph = width - ml - 8, height - mb - mt
    vmax = max(values) if values else 1.0
    ticks = _ticks(vmax)
    vtop = ticks[-1] or 1.0
    band = pw / max(len(values), 1)
    bw = min(24.0, band * 0.6)
    imax = max(range(len(values)), key=values.__getitem__) if values else 0

    parts = [
        f'<svg viewBox="0 0 {width} {height}" role="img" '
        f'aria-label="{_esc(value_name)} by category">'
    ]
    for t in ticks:
        y = mt + ph * (1 - t / vtop)
        parts.append(f'<line class="grid" x1="{ml}" y1="{y:.1f}" '
                     f'x2="{width - 8}" y2="{y:.1f}"/>')
        parts.append(f'<text x="{ml - 6}" y="{y + 4:.1f}" '
                     f'text-anchor="end">{_esc(_compact(t))}</text>')
    for i, (lab, v) in enumerate(zip(labels, values)):
        x = ml + band * i + (band - bw) / 2
        h = ph * (v / vtop)
        y = mt + ph - h
        r = min(4.0, h / 2, bw / 2)
        # rounded top corners, square baseline
        path = (
            f"M{x:.1f},{y + r:.1f} q0,-{r:.1f} {r:.1f},-{r:.1f} "
            f"h{bw - 2 * r:.1f} q{r:.1f},0 {r:.1f},{r:.1f} "
            f"v{h - r:.1f} h-{bw:.1f} Z"
        )
        parts.append(
            f'<path class="mark" d="{path}" data-v="{_esc(_fmt(v))}" '
            f'data-l="{_esc(lab)}"><title>{_esc(lab)}: {_esc(_fmt(v))}'
            f"</title></path>"
        )
        parts.append(
            f'<text x="{x + bw / 2:.1f}" y="{height - 6}" '
            f'text-anchor="middle">{_esc(lab)}</text>'
        )
        if i == imax:
            parts.append(
                f'<text class="dlabel" x="{x + bw / 2:.1f}" '
                f'y="{y - 5:.1f}" text-anchor="middle">'
                f"{_esc(_compact(v))}</text>"
            )
    parts.append("</svg>")
    return "".join(parts)


def line_chart(
    labels: Sequence[str], values: Sequence[float], value_name: str,
    width: int = 640, height: int = 240,
) -> str:
    """Single-series 2px line with an end marker (2px surface ring),
    direct label at the endpoint, nearest-x crosshair tooltip."""
    import json as _json

    ml, mb, mt, mr = 48, 24, 14, 56
    pw, ph = width - ml - mr, height - mb - mt
    vmax = max(values) if values else 1.0
    ticks = _ticks(vmax)
    vtop = ticks[-1] or 1.0
    n = len(values)
    xs = [ml + pw * (i / max(n - 1, 1)) for i in range(n)]
    ys = [mt + ph * (1 - v / vtop) for v in values]

    def attr(payload) -> str:
        # JSON lives in an HTML attribute: escape quotes too, or a
        # label containing ' / " would break out of the attribute
        return html.escape(_json.dumps(payload), quote=True)

    parts = [
        f'<svg viewBox="0 0 {width} {height}" role="img" '
        f'aria-label="{_esc(value_name)} over time" data-linechart="1" '
        f'data-xs="{attr([round(x, 1) for x in xs])}" '
        f'data-ys="{attr([round(y, 1) for y in ys])}" '
        f'data-vs="{attr([_fmt(v) for v in values])}" '
        f'data-ls="{attr([str(l) for l in labels])}">'
    ]
    for t in ticks:
        y = mt + ph * (1 - t / vtop)
        parts.append(f'<line class="grid" x1="{ml}" y1="{y:.1f}" '
                     f'x2="{ml + pw}" y2="{y:.1f}"/>')
        parts.append(f'<text x="{ml - 6}" y="{y + 4:.1f}" '
                     f'text-anchor="end">{_esc(_compact(t))}</text>')
    # sparse x labels: first / middle / last
    for i in sorted({0, n // 2, n - 1} if n else set()):
        parts.append(
            f'<text x="{xs[i]:.1f}" y="{height - 6}" '
            f'text-anchor="middle">{_esc(labels[i])}</text>'
        )
    pts = " ".join(f"{x:.1f},{y:.1f}" for x, y in zip(xs, ys))
    parts.append(f'<polyline class="line" points="{pts}"/>')
    parts.append(
        f'<line class="xhair" x1="0" x2="0" y1="{mt}" y2="{mt + ph}"/>'
    )
    parts.append(
        f'<circle class="dot hoverdot" r="4" cx="0" cy="0" '
        f'style="visibility:hidden"/>'
    )
    if values:
        parts.append(
            f'<circle class="dot" r="4" cx="{xs[-1]:.1f}" cy="{ys[-1]:.1f}"/>'
        )
        parts.append(
            f'<text class="dlabel" x="{xs[-1] + 8:.1f}" '
            f'y="{ys[-1] + 4:.1f}">{_esc(_compact(values[-1]))}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def _status_chip(status: str) -> str:
    role = {
        "completed": ("good", "✓"),
        "on_track": ("good", "✓"),
        "behind": ("warning", "▲"),
    }.get(status, ("critical", "✕"))
    return (
        f'<span class="status-chip" style="color: var(--status-{role[0]})">'
        f"{role[1]} {_esc(status)}</span>"
    )


def _page(title: str, body: str) -> str:
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body class='viz-root'>{body}<div id='tip'></div>"
        f"<script>{_JS}</script></body></html>"
    )


def render_student_report(
    spark: SparkSession, sf_dir: str, custkey: int = 1
) -> str:
    """Per-student progress page (app.py:147-191): hero GPA, progress
    stat tiles with the status chip, and the transcript table."""
    from ..plans.student_progress import flagship_progress, transcript_lookup
    from ..registry import all_queries

    # AQE can leave stage jobs of the hit check running after its
    # collect has returned (their result is no longer needed): tag the
    # check's jobs and cancel what is left of them, so neither the
    # caller's next query nor a session stop competes with them.  A
    # tag, unlike a job group, leaves the caller's group in place.
    sc = spark.sparkContext
    tag = f"student-hit-check-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        row = (
            flagship_progress(spark, sf_dir)
            .filter(f"c_custkey = {int(custkey)}")
            .collect()
        )
    finally:
        sc.removeJobTag(tag)
        sc.cancelJobsWithTag(tag)
    if not row:
        # early out BEFORE the transcript/histogram jobs: a miss should
        # cost one lookup, not three distributed queries
        return _page(
            "Student progress",
            f"<h1>Student {int(custkey)}</h1>"
            "<p class='sub'>no records found</p>",
        )
    transcript, hist = collect_concurrently([
        transcript_lookup(spark, sf_dir, custkey=custkey),
        all_queries()["grade_histogram"].fn(spark, sf_dir),
    ])
    hist.sort(key=lambda r: r["grade4"])
    s = row[0]
    tiles = "".join(
        f"<div class='tile'><div class='label'>{_esc(lab)}</div>"
        f"<div class='value'>{val}</div></div>"
        for lab, val in (
            ("Credits earned", _esc(_fmt(s["credits_earned"]))),
            ("Completion", _esc(_fmt(s["pct_complete"])) + "%"),
            ("Courses", _esc(_fmt(s["n_courses"]))),
            ("Status", _status_chip(s["status"])),
        )
    )
    tbody = [
        (r["l_orderkey"], r["l_linenumber"], r["grade10"], r["grade4"],
         r["credits"], r["l_returnflag"], r["l_linestatus"])
        for r in transcript
    ]
    body = (
        f"<h1>{_esc(s['c_name'])}</h1>"
        f"<p class='sub'>{_esc(s['n_name'])} · {_esc(s['r_name'])} · "
        f"student #{int(custkey)}</p>"
        f"<div class='hero'>{_esc(_fmt(s['gpa4']))}</div>"
        f"<div class='hero-label'>GPA (4.0 scale)</div>"
        f"<div class='tiles'>{tiles}</div>"
        "<h2>Cohort grade distribution</h2>"
        + column_chart(
            [_fmt(r["grade4"]) for r in hist],
            [float(r["n"]) for r in hist],
            "courses",
        )
        + _table(
            ["grade (4.0)", "courses"],
            [(r["grade4"], r["n"]) for r in hist],
            "table view",
        )
        + "<h2>Transcript</h2>"
        + _table(
            ["order", "line", "grade (10)", "grade (4.0)", "credits",
             "flag", "status"],
            tbody,
            f"{len(tbody)} transcript rows",
        )
    )
    return _page(f"Student {int(custkey)} progress", body)


def render_dashboard(spark: SparkSession, sf_dir: str) -> str:
    """Corpus dashboard (Kibana parity, README.md:26-27): KPI tiles
    (HLL distinct users, orders, revenue, documents), the monthly
    revenue trend line, the grade histogram, corpus quality by
    language, and the pricing summary as a plain table (identity ×
    many measures is a table's job, not a chart's)."""
    from ..registry import all_queries

    qs = all_queries()
    # five independent panels: built here, collected together
    panels = [
        qs[name].fn(spark, sf_dir)
        for name in ("hll_distinct_users", "monthly_order_trend",
                     "grade_histogram", "corpus_quality_rollup",
                     "pricing_summary")
    ]
    hll, trend, hist, quality, ps = collect_concurrently(panels)
    trend.sort(key=lambda r: r["ym"])
    hist.sort(key=lambda r: r["grade4"])
    quality = [tuple(r) for r in quality]
    ps_cols = panels[-1].columns
    ps = sorted((tuple(r) for r in ps), key=lambda r: (r[0], r[1]))

    # grouping-sets rollup: (g_lang, g_source) = (1,1) grand total,
    # (0,1) per-language subtotals
    grand = [r for r in quality if r[2] == 1 and r[3] == 1]
    per_lang = sorted(
        (r for r in quality if r[2] == 0 and r[3] == 1), key=lambda r: r[0]
    )

    n_orders = sum(r["n_orders"] for r in trend)
    revenue = sum(r["revenue"] for r in trend)
    tiles = "".join(
        f"<div class='tile'><div class='label'>{_esc(lab)}</div>"
        f"<div class='value'>{_esc(val)}</div></div>"
        for lab, val in (
            ("Distinct users (HLL est.)", _compact(float(hll[0][2]))),
            ("Orders", _compact(float(n_orders))),
            ("Revenue", _compact(revenue)),
            ("Documents", _compact(float(grand[0][4])) if grand else "–"),
        )
    )
    body = (
        "<h1>Progress analytics</h1>"
        "<p class='sub'>regenerated from the verified query registry at "
        f"{_esc(sf_dir)}</p>"
        f"<div class='tiles'>{tiles}</div>"
        "<h2>Monthly revenue</h2>"
        + line_chart(
            [r["ym"] for r in trend],
            [float(r["revenue"]) for r in trend],
            "revenue",
        )
        + _table(
            ["month", "orders", "revenue", "avg price"],
            [(r["ym"], r["n_orders"], r["revenue"], r["avg_price"])
             for r in trend],
            "table view",
        )
        + "<h2>Grade distribution</h2>"
        + column_chart(
            [_fmt(r["grade4"]) for r in hist],
            [float(r["n"]) for r in hist],
            "courses",
        )
        + _table(
            ["grade (4.0)", "courses"],
            [(r["grade4"], r["n"]) for r in hist],
            "table view",
        )
        + "<h2>Corpus quality by language (mean score)</h2>"
        + column_chart(
            [str(r[0]) for r in per_lang],
            [float(r[6]) for r in per_lang],
            "mean quality",
        )
        + _table(
            ["lang", "docs", "mean quality"],
            [(r[0], r[4], r[6]) for r in per_lang],
            "table view",
        )
        + "<h2>Pricing summary (returnflag × linestatus)</h2>"
        + _table(ps_cols, ps, "", collapsed=False)
    )
    return _page("Progress analytics", body)


def write_report(path: str, html_text: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(html_text)
