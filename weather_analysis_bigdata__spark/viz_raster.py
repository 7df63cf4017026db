"""PNG twins rasterized from the SVG documents viz.py builds.

The reference renders raster figures via matplotlib/plotly
(Weather_API.py:533-575, 856-895, 995-1012, 1045-1068). viz.py owns
every figure's geometry and colour and writes it once, as SVG; this
module turns that SVG text into the figure's PNG twin, so the twin
shows exactly what the SVG shows (axes, ticks, palette, colour ramp):

- :func:`rasterize` parses the SVG with ``xml.etree`` and draws the
  five element kinds viz.py emits into a numpy ``uint8`` image:
  ``rect`` as a slice assignment, ``line``/``polyline`` as vectorised
  segment samples, ``circle`` as a mask over its bounding box, and
  ``text`` in 5×7 bitmap glyphs honouring ``text-anchor``. Colours
  come from the elements' own ``fill``/``stroke`` attributes.
  Animations are not run: the geo map shows its circles' static
  ``r``/``fill``, the first frame.
- :func:`write_png` — a minimal, spec-correct PNG encoder (signature,
  IHDR/IDAT/IEND chunks, zlib-deflated scanlines with filter byte 0,
  CRC32 per chunk) on the standard library's ``zlib`` and ``struct``.
"""

from __future__ import annotations

import struct
import xml.etree.ElementTree as ET
import zlib

import numpy as np

# 5x7 bitmap glyphs for numeric labels; other characters advance blank.
# Rows are 5-bit bitmasks.
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
}
# Each glyph as a 7×6 bit array: its 5 columns plus one spacing column.
_BITS = {
    ch: (np.array(rows)[:, None] * 2 >> np.arange(5, -1, -1)) & 1
    for ch, rows in _GLYPHS.items()
}
_BLANK = np.zeros((7, 6), dtype=int)
_NAMED = {"white": (255, 255, 255), "black": (0, 0, 0)}


def write_png(path: str, img: np.ndarray) -> str:
    """Encode an (height, width, 3) uint8 image as an 8-bit truecolor
    PNG. Spec-minimal: one IDAT, filter type 0 per scanline, zlib
    default compression."""
    height, width, _ = img.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = np.zeros((height, 1 + 3 * width), dtype=np.uint8)
    raw[:, 1:] = img.reshape(height, 3 * width)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )
    with open(path, "wb") as f:
        f.write(png)
    return path


def _rgb(color: str | None) -> tuple[int, ...] | None:
    """SVG paint (``#rgb``, ``#rrggbb``, ``rgb(r,g,b)``, white/black)
    → RGB triple; ``None`` for no paint."""
    if color is None or color == "none":
        return None
    if color.startswith("#"):
        h = color[1:]
        return tuple(bytes.fromhex(h if len(h) == 6 else "".join(c * 2 for c in h)))
    if color.startswith("rgb("):
        return tuple(int(v) for v in color[4:-1].split(","))
    return _NAMED[color]


def _plot(img: np.ndarray, ys, xs, rgb, alpha: float = 1.0) -> None:
    """Paint the in-bounds pixels (ys, xs), blending at ``alpha``."""
    keep = (ys >= 0) & (ys < img.shape[0]) & (xs >= 0) & (xs < img.shape[1])
    ys, xs = ys[keep], xs[keep]
    if alpha < 1.0:
        img[ys, xs] = np.rint(img[ys, xs] * (1 - alpha) + np.array(rgb) * alpha)
    else:
        img[ys, xs] = rgb


def _stroke(img: np.ndarray, pts: np.ndarray, rgb, width: float) -> None:
    """Connected segments through ``pts`` (k, 2), sampled once per pixel
    of each segment's longer axis and thickened to ``width`` pixels."""
    a, b = pts[:-1], pts[1:]
    n = np.ceil(np.abs(b - a).max(axis=1)).astype(int) + 1
    seg = np.repeat(np.arange(len(n)), n)
    step = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
    t = step / np.maximum(n[seg] - 1, 1)
    xy = np.rint(a[seg] + (b - a)[seg] * t[:, None]).astype(int)
    k = max(1, round(width))
    for dy in range(k):
        for dx in range(k):
            _plot(img, xy[:, 1] + dy - k // 2, xy[:, 0] + dx - k // 2, rgb)


def _text(img: np.ndarray, x: float, y: float, s: str, anchor, rgb) -> None:
    """5×7 glyphs sitting on baseline ``y``; 6 px advance per char."""
    bits = np.hstack([_BITS.get(ch, _BLANK) for ch in s])[:, :-1]
    shift = {"middle": bits.shape[1] / 2, "end": bits.shape[1]}.get(anchor, 0)
    ys, xs = np.nonzero(bits)
    _plot(img, ys + round(y) - 7, xs + round(x - shift), rgb)


def _num(el: ET.Element, name: str, default: float = 0.0) -> float:
    return float(el.get(name, default))


def rasterize(svg_text: str, path: str) -> str:
    """Draw the SVG document ``svg_text`` and write it as PNG ``path``."""
    root = ET.fromstring(svg_text)
    img = np.zeros((int(root.get("height")), int(root.get("width")), 3), np.uint8)
    for el in root.iter():
        kind = el.tag.rpartition("}")[2]
        if kind not in ("rect", "line", "polyline", "circle", "text"):
            continue
        fill = _rgb(el.get("fill", "black"))
        stroke = _rgb(el.get("stroke"))
        if kind == "rect":
            x, y, w, h = (_num(el, k) for k in ("x", "y", "width", "height"))
            x0, y0, x1, y1 = (max(0, round(v)) for v in (x, y, x + w, y + h))
            if stroke:  # 1 px outline on the edges, fill inside it
                img[y0 : y1 + 1, x0 : x1 + 1] = stroke
                x0, y0 = x0 + 1, y0 + 1
            if fill:
                img[y0:y1, x0:x1] = fill
        elif kind in ("line", "polyline") and stroke:
            if kind == "line":
                pts = [el.get(k, 0) for k in ("x1", "y1", "x2", "y2")]
            else:
                pts = [p.split(",") for p in el.get("points").split()]
            pts = np.array(pts, float).reshape(-1, 2)
            _stroke(img, pts, stroke, _num(el, "stroke-width", 1))
        elif kind == "circle" and fill:
            cx, cy, r = (_num(el, k) for k in ("cx", "cy", "r"))
            ys, xs = np.mgrid[
                int(cy - r) : int(cy + r) + 2, int(cx - r) : int(cx + r) + 2
            ]
            inside = (xs - cx) ** 2 + (ys - cy) ** 2 <= r * r
            _plot(img, ys[inside], xs[inside], fill, _num(el, "fill-opacity", 1))
        elif kind == "text" and el.text and fill:
            x, y = _num(el, "x"), _num(el, "y")
            _text(img, x, y, el.text, el.get("text-anchor"), fill)
    return write_png(path, img)
