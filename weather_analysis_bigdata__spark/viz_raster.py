"""Dependency-free PNG rasterizer for the viz raster twins.

The reference renders raster/interactive figures via
matplotlib/plotly (Weather_API.py:533-575, 856-895, 995-1012,
1045-1068). viz.py's primary deliverables are pure-SVG; this module
renders the PNG twin of every figure with the standard library only,
in the same spirit as the pure-Python media codecs in
operators/multimodal.py (PPM/WAV/Y4M):

- :func:`write_png` — a minimal, spec-correct PNG encoder (public
  format: PNG signature, IHDR/IDAT/IEND chunks, zlib-deflated
  scanlines with filter byte 0, CRC32 per chunk) built on the
  standard library only (``zlib``, ``struct``).
- :class:`Canvas` — a tiny software rasterizer (set_pixel, Bresenham
  lines, filled rects/circles, 5×7 bitmap digits/letters for titles)
  sufficient for the three figure shapes the twins need: multi-line
  series, heatmap grid, scatter map.

It is viz.py's only raster path: every ``render_*`` writes a .png
next to its .svg from the same data.
"""

from __future__ import annotations

import struct
import zlib

# 5x7 bitmap glyphs for the handful of characters titles need; unknown
# characters render as a blank column block. Rows are 5-bit bitmasks.
_GLYPHS = {
    "0": [0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E],
    "1": [0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E],
    "2": [0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F],
    "3": [0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E],
    "4": [0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02],
    "5": [0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E],
    "6": [0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E],
    "7": [0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08],
    "8": [0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E],
    "9": [0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C],
    "-": [0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00],
    ".": [0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C],
    " ": [0x00] * 7,
}


def write_png(path: str, rows: list[bytearray], width: int, height: int) -> str:
    """Encode ``rows`` (height bytearrays of width*3 RGB bytes) as an
    8-bit truecolor PNG. Spec-minimal: one IDAT, filter type 0 per
    scanline, zlib default compression."""
    if len(rows) != height or any(len(r) != width * 3 for r in rows):
        raise ValueError("rows must be height x (width*3) RGB bytes")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with open(path, "wb") as f:
        f.write(png)
    return path


#: Series palette (same hue family as viz.py's SVG strokes).
PALETTE = [
    (31, 119, 180),
    (255, 127, 14),
    (44, 160, 44),
    (214, 39, 40),
    (148, 103, 189),
    (140, 86, 75),
]


def heat_color(t: float) -> tuple[int, int, int]:
    """Blue→red diverging ramp (the SVG heatmap's scale direction):
    t∈[0,1] linear blend blue (59,76,192) → white → red (180,4,38)."""
    t = min(1.0, max(0.0, t))
    lo, mid, hi = (59, 76, 192), (240, 240, 240), (180, 4, 38)
    if t < 0.5:
        u = t * 2
        a, b = lo, mid
    else:
        u = (t - 0.5) * 2
        a, b = mid, hi
    return tuple(round(a[i] + (b[i] - a[i]) * u) for i in range(3))


class Canvas:
    """Minimal RGB raster canvas with the primitives the viz twins
    need. Origin is top-left, like PNG scanline order."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255)):
        self.w = width
        self.h = height
        self.rows = [
            bytearray(bytes(bg) * width) for _ in range(height)
        ]

    def set_pixel(self, x: int, y: int, rgb) -> None:
        if 0 <= x < self.w and 0 <= y < self.h:
            i = x * 3
            self.rows[y][i : i + 3] = bytes(rgb)

    def fill_rect(self, x0: int, y0: int, x1: int, y1: int, rgb) -> None:
        x0, x1 = max(0, min(x0, x1)), min(self.w - 1, max(x0, x1))
        y0, y1 = max(0, min(y0, y1)), min(self.h - 1, max(y0, y1))
        px = bytes(rgb)
        for y in range(y0, y1 + 1):
            row = self.rows[y]
            for x in range(x0, x1 + 1):
                row[x * 3 : x * 3 + 3] = px

    def line(self, x0: int, y0: int, x1: int, y1: int, rgb) -> None:
        """Bresenham segment."""
        dx, dy = abs(x1 - x0), -abs(y1 - y0)
        sx = 1 if x0 < x1 else -1
        sy = 1 if y0 < y1 else -1
        err = dx + dy
        while True:
            self.set_pixel(x0, y0, rgb)
            if x0 == x1 and y0 == y1:
                return
            e2 = 2 * err
            if e2 >= dy:
                err += dy
                x0 += sx
            if e2 <= dx:
                err += dx
                y0 += sy

    def fill_circle(self, cx: int, cy: int, r: int, rgb) -> None:
        r2 = r * r
        for y in range(cy - r, cy + r + 1):
            for x in range(cx - r, cx + r + 1):
                if (x - cx) ** 2 + (y - cy) ** 2 <= r2:
                    self.set_pixel(x, y, rgb)

    def text(self, x: int, y: int, s: str, rgb=(40, 40, 40)) -> None:
        """5×7 bitmap text (digits, minus, dot; other chars blank) —
        enough to label axes with numbers."""
        for ch in s:
            glyph = _GLYPHS.get(ch, _GLYPHS[" "])
            for gy, mask in enumerate(glyph):
                for gx in range(5):
                    if mask & (1 << (4 - gx)):
                        self.set_pixel(x + gx, y + gy, rgb)
            x += 6

    def save(self, path: str) -> str:
        return write_png(path, self.rows, self.w, self.h)


# ---------------------------------------------------------------------------
# Figure-shaped twins (called by viz.py's render_* functions)
# ---------------------------------------------------------------------------
_W, _H = 800, 420
_ML, _MR, _MT, _MB = 60, 20, 30, 40  # margins


def _scale(v, lo, hi, out_lo, out_hi) -> int:
    span = (hi - lo) or 1.0
    return round(out_lo + (out_hi - out_lo) * (v - lo) / span)


def png_lines(path: str, xs, series: dict) -> str:
    """Multi-line series figure: one Bresenham polyline per series over
    an ordinal x axis, numeric y-axis ticks, axis frame."""
    c = Canvas(_W, _H)
    ys_all = [
        float(v) for vs in series.values() for v in vs if v is not None
    ]
    ylo, yhi = (min(ys_all), max(ys_all)) if ys_all else (0.0, 1.0)
    px0, px1 = _ML, _W - _MR
    py0, py1 = _H - _MB, _MT
    c.line(px0, py0, px1, py0, (0, 0, 0))
    c.line(px0, py0, px0, py1, (0, 0, 0))
    n = max(1, len(xs) - 1)
    for k in range(5):
        tv = ylo + (yhi - ylo) * k / 4
        ty = _scale(tv, ylo, yhi, py0, py1)
        c.line(px0 - 4, ty, px0, ty, (0, 0, 0))
        c.text(6, ty - 3, f"{tv:.6g}"[:8])
    for si, (label, vs) in enumerate(series.items()):
        rgb = PALETTE[si % len(PALETTE)]
        prev = None
        for i, v in enumerate(vs):
            if v is None:
                prev = None
                continue
            pt = (
                _scale(i, 0, n, px0, px1),
                _scale(float(v), ylo, yhi, py0, py1),
            )
            if prev is not None:
                c.line(prev[0], prev[1], pt[0], pt[1], rgb)
            prev = pt
        # legend swatch
        c.fill_rect(px0 + 8, _MT + 10 * si, px0 + 16, _MT + 6 + 10 * si, rgb)
    return c.save(path)


def png_heatmap(path: str, r_keys, c_keys, vals: dict) -> str:
    """Heatmap grid with the blue→red scale (same direction as the SVG
    figure); missing cells stay background."""
    c = Canvas(_W, _H)
    present = [v for v in vals.values() if v is not None]
    vlo, vhi = (min(present), max(present)) if present else (0.0, 1.0)
    span = (vhi - vlo) or 1.0
    cw = max(1, (_W - _ML - _MR) // max(1, len(c_keys)))
    ch = max(1, (_H - _MT - _MB) // max(1, len(r_keys)))
    for ri, rk in enumerate(r_keys):
        for ci, ck in enumerate(c_keys):
            v = vals.get((rk, ck))
            if v is None:
                continue
            rgb = heat_color((float(v) - vlo) / span)
            x0 = _ML + ci * cw
            y0 = _MT + ri * ch
            c.fill_rect(x0, y0, x0 + cw - 2, y0 + ch - 2, rgb)
    return c.save(path)


def png_scatter(path: str, points: list) -> str:
    """Scatter map: (x, y, t∈[0,1] size/color blend) triples — the geo
    twin's final-frame state."""
    c = Canvas(_W, _H)
    if points:
        xlo, xhi = min(p[0] for p in points), max(p[0] for p in points)
        ylo, yhi = min(p[1] for p in points), max(p[1] for p in points)
        for x, y, t in points:
            px = _scale(x, xlo, xhi, _ML, _W - _MR)
            py = _scale(y, ylo, yhi, _H - _MB, _MT)
            c.fill_circle(px, py, 4 + round(8 * t), heat_color(t))
    c.line(_ML, _H - _MB, _W - _MR, _H - _MB, (0, 0, 0))
    c.line(_ML, _H - _MB, _ML, _MT, (0, 0, 0))
    return c.save(path)
