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
is the only owner of figure geometry and colour: ``_SVG.save`` writes
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
    lo, hi = min(vals), max(vals)
    if lo == hi:  # degenerate axis: widen so points land mid-plot
        lo, hi = lo - 1.0, hi + 1.0
    return lo, hi


def _ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    return [lo + (hi - lo) * i / (n - 1) for i in range(n)]


def _esc(s: object) -> str:
    return (
        str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


class _SVG:
    """Minimal SVG document builder (header, element append, save)."""

    def __init__(self, title: str, width: int = W, height: int = H) -> None:
        self.parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
            f'height="{height}" viewBox="0 0 {width} {height}">',
            f'<rect width="{width}" height="{height}" fill="white"/>',
            f'<text x="{width / 2}" y="18" text-anchor="middle" '
            f'font-family="sans-serif" font-size="14">{_esc(title)}</text>',
        ]

    def add(self, element: str) -> None:
        self.parts.append(element)

    def axes(
        self,
        xlo: float,
        xhi: float,
        ylo: float,
        yhi: float,
        x_fmt=lambda v: f"{v:.0f}",
        y_fmt=lambda v: f"{v:.1f}",
    ) -> None:
        a = self.add
        a(
            f'<line x1="{ML}" y1="{MT + PH}" x2="{ML + PW}" y2="{MT + PH}" '
            'stroke="black"/>'
        )
        a(f'<line x1="{ML}" y1="{MT}" x2="{ML}" y2="{MT + PH}" stroke="black"/>')
        for tv in _ticks(xlo, xhi):
            x = ML + PW * (tv - xlo) / (xhi - xlo)
            a(
                f'<line x1="{x:.1f}" y1="{MT + PH}" x2="{x:.1f}" '
                f'y2="{MT + PH + 5}" stroke="black"/>'
            )
            a(
                f'<text x="{x:.1f}" y="{MT + PH + 18}" text-anchor="middle" '
                f'font-family="sans-serif" font-size="10">{_esc(x_fmt(tv))}</text>'
            )
        for tv in _ticks(ylo, yhi):
            y = MT + PH - PH * (tv - ylo) / (yhi - ylo)
            a(
                f'<line x1="{ML - 5}" y1="{y:.1f}" x2="{ML}" y2="{y:.1f}" '
                'stroke="black"/>'
            )
            a(
                f'<text x="{ML - 8}" y="{y + 3:.1f}" text-anchor="end" '
                f'font-family="sans-serif" font-size="10">{_esc(y_fmt(tv))}</text>'
            )

    def save(self, path: str) -> str:
        """Write the SVG, then its PNG twin rasterized from the same text
        (kept as ``self.text`` for the HTML twin)."""
        self.parts.append("</svg>")
        self.text = "\n".join(self.parts)
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.text)
        rasterize(self.text, path.replace(".svg", ".png"))
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
    ylo, yhi = _scale(
        [float(v) for vs in series.values() for v in vs if v is not None]
    )
    svg = _SVG(title)
    svg.axes(0, max(len(rows) - 1, 1), ylo, yhi, x_fmt=lambda v: "")
    # date labels at the ends
    svg.add(
        f'<text x="{ML}" y="{MT + PH + 32}" font-family="sans-serif" '
        f'font-size="10">{_esc(rows[0][x_col])}</text>'
    )
    svg.add(
        f'<text x="{ML + PW}" y="{MT + PH + 32}" text-anchor="end" '
        f'font-family="sans-serif" font-size="10">{_esc(rows[-1][x_col])}</text>'
    )
    for ci, (c, vs) in enumerate(series.items()):
        color = _PALETTE[ci % len(_PALETTE)]
        pts = []
        for i, v in enumerate(vs):
            if v is None:
                continue
            x = ML + PW * i / max(len(rows) - 1, 1)
            y = MT + PH - PH * (float(v) - ylo) / (yhi - ylo)
            pts.append(f"{x:.1f},{y:.1f}")
        svg.add(
            f'<polyline fill="none" stroke="{color}" stroke-width="1.5" '
            f'points="{" ".join(pts)}"/>'
        )
        svg.add(
            f'<text x="{ML + PW - 5}" y="{MT + 14 + 14 * ci}" text-anchor="end" '
            f'font-family="sans-serif" font-size="11" fill="{color}">{_esc(c)}</text>'
        )
    svg.save(path)
    # Interactive HTML twin: this SVG plus hover and a rangeslider (the
    # plotly interactions, dependency-free; viz_interactive.py).
    render_interactive_timeseries(
        path.replace(".svg", ".html"), svg.text, [r[x_col] for r in rows],
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
    xlo, xhi = _scale(years)
    ylo, yhi = _scale(vals + fit)
    svg = _SVG(title)
    svg.axes(xlo, xhi, ylo, yhi)

    def xy(yr: float, v: float) -> tuple[float, float]:
        return (
            ML + PW * (yr - xlo) / (xhi - xlo),
            MT + PH - PH * (v - ylo) / (yhi - ylo),
        )

    for yr, v in zip(years, vals):
        x, y = xy(yr, v)
        svg.add(f'<circle cx="{x:.1f}" cy="{y:.1f}" r="4" fill="{_PALETTE[0]}"/>')
    (x1, y1), (x2, y2) = xy(years[0], fit[0]), xy(years[-1], fit[-1])
    svg.add(
        f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x2:.1f}" y2="{y2:.1f}" '
        f'stroke="{_PALETTE[1]}" stroke-width="2"/>'
    )
    svg.add(
        f'<text x="{ML + 8}" y="{MT + 14}" font-family="sans-serif" '
        f'font-size="11">slope={t.slope:.4f}/yr</text>'
    )
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
        svg.add(
            f'<text x="{ML - 8}" y="{MT + ch * (ri + 0.5) + 3:.1f}" '
            f'text-anchor="end" font-family="sans-serif" font-size="10">'
            f"{_esc(rk)}</text>"
        )
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
        svg.add(
            f'<text x="{ML + cw * (ci + 0.5):.1f}" y="{MT + PH + 16}" '
            f'text-anchor="middle" font-family="sans-serif" font-size="10">'
            f"{_esc(ck)}</text>"
        )
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
    lons = [lon for lon, _ in stations.values()]
    lats = [lat for _, lat in stations.values()]
    xlo, xhi = _scale(lons)
    ylo, yhi = _scale(lats)
    vlo, vhi = _scale(list(vals.values()))
    dur = len(frames)  # 1 s per frame
    svg = _SVG(f"{title} ({frames[0]} … {frames[-1]})")
    svg.axes(xlo, xhi, ylo, yhi, x_fmt=lambda v: f"{v:.1f}", y_fmt=lambda v: f"{v:.1f}")
    for sid, (lon, lat) in sorted(stations.items()):
        x = ML + PW * (lon - xlo) / (xhi - xlo)
        y = MT + PH - PH * (lat - ylo) / (yhi - ylo)
        per_frame = [vals.get((sid, f)) for f in frames]
        # radius 4..14 px and blue→red color by value; missing frame → tiny grey
        radii, colors = [], []
        for v in per_frame:
            if v is None:
                radii.append("2")
                colors.append("#bbb")
            else:
                t = (v - vlo) / (vhi - vlo)
                radii.append(f"{4 + 10 * t:.1f}")
                colors.append(_lerp_color(t))
        svg.add(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="{radii[0]}" '
            f'fill="{colors[0]}" fill-opacity="0.8">'
            f'<animate attributeName="r" dur="{dur}s" repeatCount="indefinite" '
            f'values="{";".join(radii)}"/>'
            f'<animate attributeName="fill" dur="{dur}s" repeatCount="indefinite" '
            f'values="{";".join(colors)}"/>'
            f"</circle>"
        )
        svg.add(
            f'<text x="{x + 6:.1f}" y="{y - 6:.1f}" font-family="sans-serif" '
            f'font-size="9">{_esc(sid)}</text>'
        )
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
