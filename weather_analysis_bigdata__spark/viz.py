"""Gold rendering layer: the reference's plot deliverables as files.

The reference's Gold half is visual: per-station time-series plots
(Weather_API.py:533-575), an animated geo map of station measurements
(Weather_API.py:856-875), a yearly trend line (Weather_API.py:995-1012)
and station×month heatmaps (Weather_API.py:1045-1062). The engine side
of each figure lives in pipeline/gold.py (plot-sized aggregates only);
this module is the thin renderer the notebook used plotly/matplotlib
for.

Rendering strategy: **pure-Python SVG** (no third-party dependency).
SVG is a real, viewable deliverable: line charts with axes and ticks,
color-scaled heatmaps, and an *animated* geo map via SVG/SMIL
``<animate>`` (the plotly ``animation_frame`` analogue). This module
is the only owner of figure geometry and colour. Within it, ``_SVG``
owns the plot box: ``axes`` keeps the data→pixel maps (``x``, ``y``)
that place every point, line and marker, and ``text`` builds every
label's markup. ``_SVG.save`` writes
each figure's PNG twin by rasterizing the SVG text it just wrote
(viz_raster.py), so the twin shows what the SVG shows. A raster cannot
animate, so the geo map's twin shows the static first frame. The
per-station time series, the one figure the reference makes
interactive, also gets an HTML twin that embeds this SVG verbatim and
adds hover and a rangeslider on top of it (viz_interactive.py).

Scale note: every renderer consumes an already-aggregated DataFrame
(O(stations×months) rows, not O(raw)); ``collect()`` here is the
plot-sized driver handoff the reference's `toPandas` should have been.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.viz_interactive import (
    render_interactive_timeseries,
)
from weather_analysis_bigdata__spark.viz_raster import rasterize

W, H = 800, 420  # canvas
ML, MR, MT, MB = 60, 20, 30, 45  # margins
PW, PH = W - ML - MR, H - MT - MB  # plot area

_PALETTE = ["#1f77b4", "#d62728", "#2ca02c", "#9467bd", "#ff7f0e", "#8c564b"]


def _lerp_color(t: float) -> str:
    """Blue→red linear color scale for heatmap cells, t ∈ [0,1]."""
    t = min(1.0, max(0.0, t))
    r = int(49 + t * (214 - 49))
    g = int(130 + t * (39 - 130))
    b = int(189 + t * (40 - 189))
    return f"rgb({r},{g},{b})"


def _scale(vals: Sequence[float]) -> tuple[float, float]:
    if not vals:
        raise ValueError("no value can be plotted: every value is null")
    lo, hi = min(vals), max(vals)
    if lo == hi:  # degenerate axis: widen so points land mid-plot
        lo, hi = lo - 1.0, hi + 1.0
    return lo, hi


def _ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    return [lo + (hi - lo) * i / (n - 1) for i in range(n)]


def _esc(s: object) -> str:
    return str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _px(v: float) -> str:
    """A pixel coordinate: a float to one decimal, an int as it is."""
    return f"{v:.1f}" if isinstance(v, float) else str(v)


class _SVG:
    """One figure's SVG document and its plot box: ``axes`` sets the
    data→pixel maps ``x`` and ``y`` that place every mark, and ``text``
    builds every label."""

    def __init__(self, title: str, width: int = W, height: int = H) -> None:
        self.parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
            f'height="{height}" viewBox="0 0 {width} {height}">',
            f'<rect width="{width}" height="{height}" fill="white"/>',
        ]
        self.text(width / 2, 18, title, 14, "middle")

    def add(self, element: str) -> None:
        self.parts.append(element)

    def text(
        self, x: float, y: float, s: object, size: int = 10,
        anchor: str | None = None, attrs: str = "",
    ) -> None:
        """A label: ``s`` escaped, at pixel (x, y), ``attrs`` appended."""
        a = f' text-anchor="{anchor}"' if anchor else ""
        self.add(
            f'<text x="{_px(x)}" y="{_px(y)}"{a} font-family="sans-serif" '
            f'font-size="{size}"{attrs}>{_esc(s)}</text>'
        )

    def axes(
        self, xlo: float, xhi: float, ylo: float, yhi: float,
        x_fmt=lambda v: f"{v:.0f}", y_fmt=lambda v: f"{v:.1f}",
    ) -> None:
        """Draw the x and y axes with five ticks each, and keep their
        data→pixel maps as ``self.x`` and ``self.y``."""
        self.x = lambda v: ML + PW * (v - xlo) / (xhi - xlo)
        self.y = lambda v: MT + PH - PH * (v - ylo) / (yhi - ylo)
        a = self.add
        a(
            f'<line x1="{ML}" y1="{MT + PH}" x2="{ML + PW}" y2="{MT + PH}" '
            'stroke="black"/>'
        )
        a(f'<line x1="{ML}" y1="{MT}" x2="{ML}" y2="{MT + PH}" stroke="black"/>')
        for tv in _ticks(xlo, xhi):
            x = self.x(tv)
            a(
                f'<line x1="{x:.1f}" y1="{MT + PH}" x2="{x:.1f}" '
                f'y2="{MT + PH + 5}" stroke="black"/>'
            )
            self.text(x, MT + PH + 18, x_fmt(tv), anchor="middle")
        for tv in _ticks(ylo, yhi):
            y = self.y(tv)
            a(
                f'<line x1="{ML - 5}" y1="{y:.1f}" x2="{ML}" y2="{y:.1f}" '
                'stroke="black"/>'
            )
            self.text(ML - 8, y + 3, y_fmt(tv), anchor="end")

    def save(self, path: str) -> str:
        """Write the SVG, then its PNG twin rasterized from the same text
        (kept as ``self.markup`` for the HTML twin)."""
        self.parts.append("</svg>")
        self.markup = "\n".join(self.parts)
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.markup)
        rasterize(self.markup, path.replace(".svg", ".png"))
        return path


# ---------------------------------------------------------------------------
# Figure renderers (each consumes a plot-sized gold aggregate)
# ---------------------------------------------------------------------------
def render_time_series(
    series_df: DataFrame,
    x_col: str,
    y_cols: Sequence[str],
    path: str,
    title: str = "Per-station time series",
) -> str:
    """Multi-line time series (Weather_API.py:533-575): one polyline per
    measure over an ordered date axis."""
    rows = series_df.collect()
    if not rows:
        raise ValueError("empty series")
    series = {c: [r[c] for r in rows] for c in y_cols}
    ys = [float(v) for vs in series.values() for v in vs if v is not None]
    svg = _SVG(title)
    svg.axes(0, max(len(rows) - 1, 1), *_scale(ys), x_fmt=lambda v: "")
    # date labels at the ends
    svg.text(ML, MT + PH + 32, rows[0][x_col])
    svg.text(ML + PW, MT + PH + 32, rows[-1][x_col], anchor="end")
    for ci, (c, vs) in enumerate(series.items()):
        color = _PALETTE[ci % len(_PALETTE)]
        pts = " ".join(
            f"{svg.x(i):.1f},{svg.y(float(v)):.1f}"
            for i, v in enumerate(vs) if v is not None
        )
        svg.add(
            f'<polyline fill="none" stroke="{color}" stroke-width="1.5" '
            f'points="{pts}"/>'
        )
        svg.text(ML + PW - 5, MT + 14 + 14 * ci, c, 11, "end", f' fill="{color}"')
    svg.save(path)
    # Interactive HTML twin: this SVG plus hover and a rangeslider (the
    # plotly interactions, dependency-free; viz_interactive.py).
    render_interactive_timeseries(
        path.replace(".svg", ".html"), svg.markup, [r[x_col] for r in rows],
        series, (ML, PW), title=title,
    )
    return path


def render_trend(
    yearly_df: DataFrame,
    trend_df: DataFrame,
    path: str,
    title: str = "Yearly mean temperature + OLS trend",
) -> str:
    """Yearly means as points plus the regression line from
    gold.yearly_trend (Weather_API.py:995-1012)."""
    rows = sorted(yearly_df.collect(), key=lambda r: r.year)
    t = trend_df.first()
    if not rows or t.slope is None:
        raise ValueError("empty yearly aggregate")
    years = [r.year for r in rows]
    vals = [float(r.avg_temperature) for r in rows]
    fit = [t.intercept + t.slope * y for y in years]
    svg = _SVG(title)
    svg.axes(*_scale(years), *_scale(vals + fit))
    x, y = svg.x, svg.y
    for yr, v in zip(years, vals):
        svg.add(f'<circle cx="{x(yr):.1f}" cy="{y(v):.1f}" r="4" '
                f'fill="{_PALETTE[0]}"/>')
    svg.add(
        f'<line x1="{x(years[0]):.1f}" y1="{y(fit[0]):.1f}" '
        f'x2="{x(years[-1]):.1f}" y2="{y(fit[-1]):.1f}" '
        f'stroke="{_PALETTE[1]}" stroke-width="2"/>'
    )
    svg.text(ML + 8, MT + 14, f"slope={t.slope:.4f}/yr", 11)
    return svg.save(path)


def render_heatmap(
    cell_df: DataFrame,
    row_col: str,
    col_col: str,
    val_col: str,
    path: str,
    title: str = "Station × month heatmap",
) -> str:
    """Color-scaled grid (Weather_API.py:1045-1062): one rect per
    (row, column) cell, blue→red over the value range."""
    rows = cell_df.collect()
    if not rows:
        raise ValueError("empty heatmap aggregate")
    r_keys = sorted({r[row_col] for r in rows})
    c_keys = sorted({r[col_col] for r in rows})
    vals = {(r[row_col], r[col_col]): float(r[val_col]) for r in rows
            if r[val_col] is not None}
    lo, hi = _scale(list(vals.values()))
    cw, ch = PW / len(c_keys), PH / len(r_keys)
    svg = _SVG(title)
    for ri, rk in enumerate(r_keys):
        svg.text(ML - 8, MT + ch * (ri + 0.5) + 3, rk, anchor="end")
        for ci, ck in enumerate(c_keys):
            v = vals.get((rk, ck))
            fill = _lerp_color((v - lo) / (hi - lo)) if v is not None else "#eee"
            tip = f"{rk} / {ck}: {v if v is not None else 'n/a'}"
            svg.add(
                f'<rect x="{ML + cw * ci:.1f}" y="{MT + ch * ri:.1f}" '
                f'width="{cw:.1f}" height="{ch:.1f}" fill="{fill}" '
                f'stroke="white"><title>{_esc(tip)}</title></rect>'
            )
    for ci, ck in enumerate(c_keys):
        svg.text(ML + cw * (ci + 0.5), MT + PH + 16, ck, anchor="middle")
    return svg.save(path)


def render_geo_map(
    frame_df: DataFrame,
    station_df: DataFrame,
    val_col: str,
    path: str,
    frame_col: str = "month_year",
    title: str = "Animated station map",
) -> str:
    """Animated geo scatter (Weather_API.py:856-875, plotly
    ``animation_frame``): stations plotted at (longitude, latitude);
    each station's marker radius + color cycle through the per-frame
    values with SMIL ``<animate>``, 1 frame/second, looping — a real
    animation in any browser, zero dependencies."""
    frame_rows = frame_df.collect()
    frames = sorted({r[frame_col] for r in frame_rows})
    if not frames:
        raise ValueError("no animation frames")
    # A station without coordinates cannot be placed: it gets no marker.
    stations = {r["station"]: (float(r["longitude"]), float(r["latitude"]))
                for r in station_df.collect()
                if r["longitude"] is not None and r["latitude"] is not None}
    if not stations:
        raise ValueError("no station can be placed: none has both coordinates")
    vals = {
        (r["station"], r[frame_col]): float(r[val_col])
        for r in frame_rows
        if r[val_col] is not None
    }
    vlo, vhi = _scale(list(vals.values()))
    lons, lats = zip(*stations.values())
    dur = len(frames)  # 1 s per frame
    svg = _SVG(f"{title} ({frames[0]} … {frames[-1]})")
    svg.axes(*_scale(lons), *_scale(lats), x_fmt=lambda v: f"{v:.1f}")
    for sid, (lon, lat) in sorted(stations.items()):
        x, y = svg.x(lon), svg.y(lat)
        # radius 4..14 px and blue→red color by value; missing frame → tiny grey
        per_frame = [vals.get((sid, f)) for f in frames]
        ts = [None if v is None else (v - vlo) / (vhi - vlo) for v in per_frame]
        radii = ["2" if t is None else f"{4 + 10 * t:.1f}" for t in ts]
        colors = ["#bbb" if t is None else _lerp_color(t) for t in ts]
        svg.add(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="{radii[0]}" '
            f'fill="{colors[0]}" fill-opacity="0.8">'
            f'<animate attributeName="r" dur="{dur}s" repeatCount="indefinite" '
            f'values="{";".join(radii)}"/>'
            f'<animate attributeName="fill" dur="{dur}s" repeatCount="indefinite" '
            f'values="{";".join(colors)}"/>'
            f"</circle>"
        )
        svg.text(x + 6, y - 6, sid, 9)
    # frame label cycling in sync with the markers
    svg.add(
        f'<text x="{ML + 8}" y="{MT + 16}" font-family="sans-serif" '
        f'font-size="12" font-weight="bold">'
        + "".join(
            f'<tspan opacity="0"><animate attributeName="opacity" dur="{dur}s" '
            f'repeatCount="indefinite" calcMode="discrete" '
            f'values="{";".join("1" if i == j else "0" for j in range(dur))}"/>'
            f"{_esc(f)}</tspan>"
            for i, f in enumerate(frames)
        )
        + "</text>"
    )
    return svg.save(path)


# ---------------------------------------------------------------------------
# Gallery: every reference figure from one silver table
# ---------------------------------------------------------------------------
def render_gallery(silver: DataFrame, station_dim: DataFrame, out_dir: str) -> list[str]:
    """Render the reference notebook's full figure set from gold
    aggregates into ``out_dir``; returns the file paths written."""
    from weather_analysis_bigdata__spark.pipeline import gold

    os.makedirs(out_dir, exist_ok=True)
    out: list[str] = []
    first_station = silver.agg(F.min("station")).first()[0]
    out.append(
        render_time_series(
            gold.per_station_series(silver, first_station),
            "Date_1",
            ("max_temperature", "min_temperature", "avg_temperature_rounded"),
            os.path.join(out_dir, "time_series.svg"),
            title=f"Station {first_station} temperatures",
        )
    )
    out.append(
        render_trend(
            gold.yearly_mean_temperature(silver),
            gold.yearly_trend(silver),
            os.path.join(out_dir, "trend.svg"),
        )
    )
    out.append(
        render_heatmap(
            gold.station_month_mean(silver, "avg_temperature_rounded"),
            "station",
            "month",
            "avg_avg_temperature_rounded",
            os.path.join(out_dir, "heatmap_temperature.svg"),
        )
    )
    out.append(
        render_heatmap(
            gold.station_month_mean(silver, "precipitation"),
            "station",
            "month",
            "avg_precipitation",
            os.path.join(out_dir, "heatmap_precipitation.svg"),
            title="Station × month precipitation",
        )
    )
    out.append(
        render_geo_map(
            gold.station_month_year_mean(silver, "avg_temperature_rounded"),
            station_dim.withColumnRenamed("station_id", "station"),
            "avg_avg_temperature_rounded",
            os.path.join(out_dir, "geo_map.svg"),
        )
    )
    return out
