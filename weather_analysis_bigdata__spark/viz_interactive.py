"""Dependency-free interactive HTML twin of the time-series figure.

The reference makes one figure interactive, the per-station time series
(Weather_API.py:533-575, plotly), with hover and an x-axis rangeslider.
Its twin is one self-contained ``.html`` file (no CDN, no plotly) that
embeds, verbatim, the SVG ``viz.render_time_series`` has just saved, so
the drawing exists once, in viz.py. The script only adds:

- **hover**: the nearest data index, from the plot box, shows a tooltip
  with the x label and every series value, and moves a crosshair;
- **rangeslider**: two range inputs bound the visible x-window; each
  polyline point's x is mapped from the full index range onto it,
  points outside it are dropped and the two date end labels follow.
  y stays on the SVG's own axis, so its ticks stay true.

The JSON data block holds the aggregate the SVG was drawn from (x
labels, series values) and viz.py's plot box (``ML``, ``PW``).
"""

from __future__ import annotations

import html
import json
import re

_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>__TITLE__</title>
<style>
body { font-family: sans-serif; margin: 16px; }
.fig { display: inline-block; }
#tooltip { position: absolute; background: #fffbe6; border: 1px solid #999;
           padding: 4px 6px; font-size: 12px; pointer-events: none;
           display: none; }
.sliders input { width: 100%; }
</style></head>
<body>
<div class="fig">
__SVG__
<div id="tooltip"></div>
<div class="sliders">
  <label>window start <input type="range" id="lo" min="0" value="0"></label>
  <label>window end <input type="range" id="hi" min="1"></label>
</div>
</div>
<script id="data" type="application/json">__DATA__</script>
<script>
"use strict";
const DATA = JSON.parse(document.getElementById("data").textContent);
const SVG = document.querySelector("svg");
const TIP = document.getElementById("tooltip");
const LO = document.getElementById("lo"), HI = document.getElementById("hi");
const X = DATA.x, ML = DATA.ML, PW = DATA.PW, N = X.length;
// labels/x values are data-derived strings injected via innerHTML —
// escape them so markup in a label renders as text, never as nodes
const esc = s => String(s).replace(/&/g, "&amp;").replace(/</g, "&lt;")
                          .replace(/>/g, "&gt;").replace(/"/g, "&quot;");
// The i-th polyline draws DATA.series[i]; its k-th point is that
// series' k-th non-null value. Keep each point's y string as drawn.
const LINES = [...SVG.querySelectorAll("polyline")].map((el, si) => {
  const idx = [];
  DATA.series[si].values.forEach((v, i) => { if (v !== null) idx.push(i); });
  const ys = el.getAttribute("points").split(" ").filter(Boolean)
               .map(p => p.split(",")[1]);
  return { el, pts: idx.map((i, k) => [i, ys[k]]) };
});
const TEXTS = [...SVG.querySelectorAll("text")];
const FIRST = TEXTS.find(t => t.textContent === X[0]);
const LAST = TEXTS.find(t => t !== FIRST && t.textContent === X[N - 1]);
// crosshair: a grey dashed copy of the vertical line at the plot's left edge
const XH = SVG.appendChild([...SVG.querySelectorAll("line")].find(
  l => +l.getAttribute("x1") === ML && +l.getAttribute("x2") === ML).cloneNode());
XH.setAttribute("stroke", "#888");
XH.setAttribute("stroke-dasharray", "3,3");
XH.setAttribute("visibility", "hidden");
LO.max = N - 2; HI.max = N - 1; HI.value = N - 1;
let lo = 0, hi = N - 1;

function px(i) { return ML + PW * (i - lo) / Math.max(hi - lo, 1); }
function onSlide() {
  lo = Math.min(parseInt(LO.value), N - 2);
  hi = Math.max(parseInt(HI.value), lo + 1);
  for (const { el, pts } of LINES) {
    el.setAttribute("points", pts.filter(([i]) => i >= lo && i <= hi)
      .map(([i, y]) => px(i).toFixed(1) + "," + y).join(" "));
  }
  FIRST.textContent = X[lo];
  LAST.textContent = X[hi];
}
LO.addEventListener("input", onSlide);
HI.addEventListener("input", onSlide);
SVG.addEventListener("mousemove", ev => {
  const r = SVG.getBoundingClientRect();
  const i = Math.round(lo + (ev.clientX - r.left - ML) / PW * (hi - lo));
  if (i < lo || i > hi) { TIP.style.display = "none"; return; }
  const lines = [esc(X[i])].concat(DATA.series.map(
    s => `${esc(s.label)}: ${s.values[i] === null ? "-" : s.values[i]}`));
  TIP.innerHTML = lines.join("<br>");
  TIP.style.display = "block";
  TIP.style.left = (ev.pageX + 12) + "px";
  TIP.style.top = (ev.pageY + 12) + "px";
  XH.setAttribute("x1", px(i)); XH.setAttribute("x2", px(i));
  XH.setAttribute("visibility", "visible");
});
SVG.addEventListener("mouseleave", () => {
  TIP.style.display = "none";
  XH.setAttribute("visibility", "hidden");
});
</script>
</body></html>
"""


def render_interactive_timeseries(
    path: str,
    svg_text: str,
    x_labels: list,
    series: dict,
    plot_box: tuple[float, float],
    title: str = "",
) -> str:
    """Write the interactive HTML twin of a time-series SVG: ``svg_text``
    is embedded verbatim; ``series`` maps label → values (None for
    gaps) aligned to ``x_labels``, in the SVG's polyline order;
    ``plot_box`` is viz.py's (ML, PW). Returns the path written."""
    data = {
        "x": [str(x) for x in x_labels],
        "series": [
            {"label": str(lbl), "values": [None if v is None else float(v) for v in vs]}
            for lbl, vs in series.items()
        ],
        "ML": plot_box[0],
        "PW": plot_box[1],
    }
    # '<' is escaped in the serialized JSON so a value containing
    # '</script>' cannot terminate the data block early (the standard
    # JSON-in-HTML hardening; < parses identically). One substitution
    # pass, so a placeholder inside the title or SVG stays literal.
    fields = {"TITLE": html.escape(title), "SVG": svg_text,
              "DATA": json.dumps(data).replace("<", "\\u003c")}
    doc = re.sub(r"__(TITLE|SVG|DATA)__", lambda m: fields[m.group(1)], _TEMPLATE)
    with open(path, "w", encoding="utf-8") as f:
        f.write(doc)
    return path
