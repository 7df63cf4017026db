"""Dependency-free INTERACTIVE HTML twins for the viz figures.

The reference's plotly figures (Weather_API.py:533-575, 1045-1068) are
interactive: hover tooltips and an x-axis rangeslider. The SVG suite
reproduces the plot *data* and the raster twins the static rendering;
this module closes the remaining gap — interactivity — without taking
a dependency: each figure is a single self-contained ``.html`` file
(inline SVG + ~60 lines of vanilla JS, no CDN, no plotly) offering the
two interactions the reference actually uses:

- **hover**: mousemove resolves the nearest data index and shows a
  tooltip with the x label and every series value, plus a crosshair;
- **rangeslider**: two range inputs bound the visible x-window and the
  polylines re-render from the sliced data (plotly's rangeslider
  semantics: zoom is a pure view change, data is immutable).

The embedded data block is the SAME per-figure aggregate the SVG/PNG
paths consume, serialized as JSON — so the oracle-checked plot data
contract extends to the interactive twin, and tests can parse the
JSON straight out of the file.
"""

from __future__ import annotations

import html
import json

_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>__TITLE__</title>
<style>
body { font-family: sans-serif; margin: 16px; }
#chart { border: 1px solid #ccc; }
#tooltip { position: absolute; background: #fffbe6; border: 1px solid #999;
           padding: 4px 6px; font-size: 12px; pointer-events: none;
           display: none; }
.sliders { width: 760px; margin-top: 6px; }
.sliders input { width: 100%; }
</style></head>
<body>
<h3>__TITLE__</h3>
<svg id="chart" width="760" height="380"></svg>
<div id="tooltip"></div>
<div class="sliders">
  <label>window start <input type="range" id="lo" min="0" value="0"></label>
  <label>window end <input type="range" id="hi" min="1"></label>
</div>
<script id="data" type="application/json">__DATA__</script>
<script>
"use strict";
const DATA = JSON.parse(document.getElementById("data").textContent);
const SVG = document.getElementById("chart");
const TIP = document.getElementById("tooltip");
const LO = document.getElementById("lo"), HI = document.getElementById("hi");
const W = 760, H = 380, ML = 50, MR = 15, MT = 15, MB = 35;
const PW = W - ML - MR, PH = H - MT - MB;
// labels/x values are data-derived strings injected via innerHTML —
// escape them so markup in a label renders as text, never as nodes
const esc = s => String(s).replace(/&/g, "&amp;").replace(/</g, "&lt;")
                          .replace(/>/g, "&gt;").replace(/"/g, "&quot;");
const N = DATA.x.length;
LO.max = N - 2; HI.max = N - 1; HI.value = N - 1;
let lo = 0, hi = N - 1;

function yBounds(a, b) {
  let mn = Infinity, mx = -Infinity;
  for (const s of DATA.series) {
    for (let i = a; i <= b; i++) {
      const v = s.values[i];
      if (v === null) continue;
      if (v < mn) mn = v;
      if (v > mx) mx = v;
    }
  }
  if (mn === Infinity) { mn = 0; mx = 1; }
  if (mn === mx) { mn -= 1; mx += 1; }
  return [mn, mx];
}
function px(i) { return ML + PW * (i - lo) / Math.max(hi - lo, 1); }
function render() {
  const [ylo, yhi] = yBounds(lo, hi);
  const py = v => MT + PH - PH * (v - ylo) / (yhi - ylo);
  let s = `<line x1="${ML}" y1="${MT + PH}" x2="${ML + PW}" ` +
          `y2="${MT + PH}" stroke="black"/>` +
          `<line x1="${ML}" y1="${MT}" x2="${ML}" ` +
          `y2="${MT + PH}" stroke="black"/>`;
  for (let t = 0; t < 5; t++) {
    const v = ylo + (yhi - ylo) * t / 4;
    s += `<text x="${ML - 6}" y="${py(v) + 4}" text-anchor="end" ` +
         `font-size="10">${v.toFixed(2)}</text>`;
  }
  s += `<text x="${ML}" y="${H - 8}" font-size="10">` +
       `${esc(DATA.x[lo])}</text>` +
       `<text x="${ML + PW}" y="${H - 8}" text-anchor="end" ` +
       `font-size="10">${esc(DATA.x[hi])}</text>`;
  DATA.series.forEach((ser, si) => {
    const pts = [];
    for (let i = lo; i <= hi; i++) {
      if (ser.values[i] === null) continue;
      pts.push(px(i).toFixed(1) + "," + py(ser.values[i]).toFixed(1));
    }
    s += `<polyline fill="none" stroke="${ser.color}" ` +
         `stroke-width="1.5" points="${pts.join(" ")}"/>` +
         `<text x="${ML + PW - 5}" y="${MT + 14 + 14 * si}" ` +
         `text-anchor="end" font-size="11" ` +
         `fill="${ser.color}">${esc(ser.label)}</text>`;
  });
  s += `<line id="xhair" x1="-10" y1="${MT}" x2="-10" ` +
       `y2="${MT + PH}" stroke="#888" stroke-dasharray="3,3"/>`;
  SVG.innerHTML = s;
}
function onSlide() {
  lo = Math.min(parseInt(LO.value), N - 2);
  hi = Math.max(parseInt(HI.value), lo + 1);
  render();
}
LO.addEventListener("input", onSlide);
HI.addEventListener("input", onSlide);
SVG.addEventListener("mousemove", ev => {
  const r = SVG.getBoundingClientRect();
  const fx = (ev.clientX - r.left - ML) / PW;
  const i = Math.round(lo + fx * (hi - lo));
  if (i < lo || i > hi) { TIP.style.display = "none"; return; }
  const lines = [esc(DATA.x[i])].concat(DATA.series.map(
    s => `${esc(s.label)}: ${s.values[i] === null ? "-" : s.values[i]}`));
  TIP.innerHTML = lines.join("<br>");
  TIP.style.display = "block";
  TIP.style.left = (ev.pageX + 12) + "px";
  TIP.style.top = (ev.pageY + 12) + "px";
  const xh = document.getElementById("xhair");
  xh.setAttribute("x1", px(i)); xh.setAttribute("x2", px(i));
});
SVG.addEventListener("mouseleave", () => { TIP.style.display = "none"; });
render();
</script>
</body></html>
"""


def render_interactive_timeseries(
    path: str,
    x_labels: list,
    series: dict,
    title: str = "",
) -> str:
    """Write a self-contained interactive HTML line chart: ``series``
    maps label → (colour, values with None for gaps), aligned to
    ``x_labels``. Returns the path written."""
    data = {
        "x": [str(x) for x in x_labels],
        "series": [
            {
                "label": str(lbl),
                "color": color,
                "values": [None if v is None else float(v) for v in vs],
            }
            for lbl, (color, vs) in series.items()
        ],
    }
    # '<' is escaped in the serialized JSON so a value containing
    # '</script>' cannot terminate the data block early (the standard
    # JSON-in-HTML hardening; < parses identically).
    doc = _TEMPLATE.replace("__TITLE__", html.escape(title)).replace(
        "__DATA__", json.dumps(data).replace("<", "\\u003c")
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(doc)
    return path
