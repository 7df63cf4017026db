"""Smoke tests: every reference figure renders as well-formed SVG from
the gold aggregates of the NOAA-shaped fixture."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest

from tests.fixtures import STATIONS, noaa_long_rows, station_dim_rows

SVG_NS = "{http://www.w3.org/2000/svg}"


@pytest.fixture(scope="module")
def silver(spark):
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        STATION_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    return build_silver(build_bronze(long_df), dim).cache()


@pytest.fixture(scope="module")
def gallery(silver, spark, tmp_path_factory):
    from weather_analysis_bigdata__spark.pipeline.schemas import STATION_SCHEMA
    from weather_analysis_bigdata__spark.viz import render_gallery

    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    out = tmp_path_factory.mktemp("gallery")
    return render_gallery(silver, dim, str(out))


def test_gallery_renders_all_reference_figures(gallery):
    names = {p.rsplit("/", 1)[-1] for p in gallery}
    assert names == {
        "time_series.svg",
        "trend.svg",
        "heatmap_temperature.svg",
        "heatmap_precipitation.svg",
        "geo_map.svg",
    }


def test_every_figure_is_wellformed_svg(gallery):
    for p in gallery:
        root = ET.parse(p).getroot()
        assert root.tag == f"{SVG_NS}svg", p


def test_time_series_has_three_polylines(gallery):
    p = next(x for x in gallery if x.endswith("time_series.svg"))
    root = ET.parse(p).getroot()
    lines = root.findall(f".//{SVG_NS}polyline")
    assert len(lines) == 3
    for pl in lines:
        assert len(pl.get("points").split()) > 10  # a real series, not a dot


def test_trend_has_fit_line_and_points(gallery):
    p = next(x for x in gallery if x.endswith("trend.svg"))
    root = ET.parse(p).getroot()
    assert root.findall(f".//{SVG_NS}circle")  # yearly means
    # axis lines + the red fit line
    strokes = {ln.get("stroke") for ln in root.findall(f".//{SVG_NS}line")}
    assert "#d62728" in strokes


def test_heatmap_has_one_rect_per_cell(silver, gallery):
    from pyspark.sql import functions as F

    p = next(x for x in gallery if x.endswith("heatmap_temperature.svg"))
    root = ET.parse(p).getroot()
    rects = [
        r for r in root.findall(f".//{SVG_NS}rect") if r.get("stroke") == "white"
    ]
    n_stations = silver.select("station").distinct().count()
    n_months = silver.select(F.month("Date_1")).distinct().count()
    assert len(rects) == n_stations * n_months


def test_geo_map_is_animated_with_one_marker_per_station(gallery):
    p = next(x for x in gallery if x.endswith("geo_map.svg"))
    root = ET.parse(p).getroot()
    circles = root.findall(f".//{SVG_NS}circle")
    assert len(circles) == len(STATIONS)
    for c in circles:
        anims = c.findall(f"{SVG_NS}animate")
        names = {a.get("attributeName") for a in anims}
        assert {"r", "fill"} <= names  # SMIL animation on radius + color
        # every frame contributes a value
        assert len(anims[0].get("values").split(";")) > 1


class _CountingFrame:
    """Stand-in for a plot-sized Gold DataFrame that counts its collects."""

    def __init__(self, rows):
        self.rows = rows
        self.collects = 0

    def collect(self):
        self.collects += 1
        return list(self.rows)


def test_geo_map_collects_its_frame_once(tmp_path):
    """render_geo_map must run its Gold aggregate once: one collect feeds
    both the frame list and the per-frame values."""
    from weather_analysis_bigdata__spark.viz import render_geo_map

    frame = _CountingFrame(
        [
            {"station": sid, "month_year": f"2024-0{m}", "v": float(i + m)}
            for i, (sid, _n, _la, _lo) in enumerate(STATIONS)
            for m in (1, 2, 3)
        ]
    )
    stations = _CountingFrame(
        [
            {"station": sid, "latitude": lat, "longitude": lon}
            for sid, _n, lat, lon in STATIONS
        ]
    )
    path = render_geo_map(frame, stations, "v", str(tmp_path / "geo.svg"))
    assert frame.collects == 1
    assert len(ET.parse(path).getroot().findall(f".//{SVG_NS}circle")) == len(
        STATIONS
    )


def test_geo_map_skips_stations_without_coordinates(tmp_path):
    """A dim row with a null coordinate cannot be placed: the map draws
    the stations it can place and skips that one, instead of failing on
    ``float(None)``."""
    from weather_analysis_bigdata__spark.viz import render_geo_map

    (a, _n, lat, lon), (b, *_rest) = STATIONS[:2]
    frame = _CountingFrame(
        [{"station": sid, "month_year": "2024-01", "v": 1.0} for sid in (a, b)]
    )
    stations = _CountingFrame(
        [
            {"station": a, "latitude": lat, "longitude": lon},
            {"station": b, "latitude": 41.0, "longitude": None},
        ]
    )
    path = render_geo_map(frame, stations, "v", str(tmp_path / "geo.svg"))
    assert len(ET.parse(path).getroot().findall(f".//{SVG_NS}circle")) == 1


def _png_pixels(path):
    """Decode a truecolor PNG twin into an (h, w, 3) uint8 array,
    checking it on the way: signature, CRC of every chunk, IHDR first
    and IEND last, IDAT of exactly height*(1+width*3) filter-0 bytes."""
    import struct
    import zlib

    import numpy as np

    with open(path, "rb") as f:
        data = f.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n", path
    off = 8
    chunks = []
    idat = b""
    while off < len(data):
        (ln,) = struct.unpack(">I", data[off : off + 4])
        tag = data[off + 4 : off + 8]
        payload = data[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack(">I", data[off + 8 + ln : off + 12 + ln])
        assert crc == (zlib.crc32(tag + payload) & 0xFFFFFFFF), path
        chunks.append(tag)
        if tag == b"IDAT":
            idat += payload
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert w > 0 and h > 0 and depth == 8 and ctype == 2, path
        off += 12 + ln
    assert chunks[0] == b"IHDR" and chunks[-1] == b"IEND", path
    # truecolor RGB: each scanline is 1 filter byte + 3*w
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    assert raw.size == h * (1 + 3 * w), path
    rows = raw.reshape(h, 1 + 3 * w)
    assert not rows[:, 0].any(), path  # filter type 0 on every scanline
    return rows[:, 1:].reshape(h, w, 3)


def _svg_rgb(color):
    """``#rgb``, ``#rrggbb`` or ``rgb(r,g,b)`` → (r, g, b)."""
    if color.startswith("#"):
        h = color[1:]
        return tuple(bytes.fromhex(h if len(h) == 6 else "".join(c * 2 for c in h)))
    return tuple(int(v) for v in color[4:-1].split(","))


def test_raster_twins_always_render(gallery):
    """Every SVG figure gains a PNG raster twin from the dependency-free
    viz_raster encoder. Each twin must be a spec-valid PNG (checked by
    _png_pixels) of the SVG's own width and height."""
    import os

    for p in gallery:
        png = p.replace(".svg", ".png")
        assert os.path.exists(png), png
        assert os.path.getsize(png) > 1000, png
        root = ET.parse(p).getroot()
        h, w, _ = _png_pixels(png).shape
        assert (w, h) == (int(root.get("width")), int(root.get("height"))), png


def test_png_twin_matches_its_svg(gallery):
    """The PNG twin is drawn from the SVG itself, so it shows the SVG's
    colours: each heatmap cell's centre pixel is that cell's ``fill``
    (same colour ramp), and every time-series stroke colour appears in
    the raster (same palette)."""
    heatmaps = [p for p in gallery if "heatmap_" in p]
    assert len(heatmaps) == 2
    for p in heatmaps:
        img = _png_pixels(p.replace(".svg", ".png"))
        cells = [
            r for r in ET.parse(p).getroot().findall(f".//{SVG_NS}rect")
            if r.get("stroke") == "white"
        ]
        assert cells
        for r in cells:
            cx = int(float(r.get("x")) + float(r.get("width")) / 2)
            cy = int(float(r.get("y")) + float(r.get("height")) / 2)
            want = _svg_rgb(r.get("fill"))
            assert tuple(img[cy, cx].tolist()) == want, (p, cx, cy)

    p = next(x for x in gallery if x.endswith("time_series.svg"))
    img = _png_pixels(p.replace(".svg", ".png"))
    colours = {tuple(c) for c in img.reshape(-1, 3).tolist()}
    strokes = [
        pl.get("stroke")
        for pl in ET.parse(p).getroot().findall(f".//{SVG_NS}polyline")
    ]
    assert len(strokes) == 3
    for stroke in strokes:
        assert _svg_rgb(stroke) in colours, stroke


def test_interactive_html_twins(gallery):
    """The time series, the one figure the reference makes interactive,
    gains a self-contained HTML twin (hover + rangeslider, the
    reference's plotly interactions, dependency-free) that embeds its
    SVG verbatim; the trend gets none. Structural check always; the
    node DOM-stub harness drives the script on the embedded SVG: hover,
    a narrowed window, and no y scale drawn by the script."""
    import json
    import os
    import re
    import shutil
    import subprocess

    assert not any(
        os.path.exists(p.replace(".svg", ".html"))
        for p in gallery
        if not p.endswith("time_series.svg")
    )
    svg_path = next(p for p in gallery if p.endswith("time_series.svg"))
    p = svg_path.replace(".svg", ".html")
    s = open(p, encoding="utf-8").read()
    svg = open(svg_path, encoding="utf-8").read()
    assert svg in s  # the SVG's markup, verbatim: the drawing exists once
    # self-contained: beyond the SVG's own namespace, no URL at all
    assert "http" not in s.replace(svg, "")
    m = re.search(
        r'<script id="data" type="application/json">(.*?)</script>',
        s,
        re.S,
    )
    d = json.loads(m.group(1))
    assert d["x"] and d["series"]
    for ser in d["series"]:
        assert len(ser["values"]) == len(d["x"])
    assert "mousemove" in s and 'type="range"' in s
    node = shutil.which("node")
    if node is None:
        pytest.skip("node not installed")
    harness = os.path.join(os.path.dirname(__file__), "interactive_harness.js")
    out = subprocess.run([node, harness, p], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    for check in ("hover: ok", "window: ok", "static: ok"):
        assert check in out.stdout, out.stdout
