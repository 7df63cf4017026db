"""SHA-256 of every file the figure renderers write, for fixed inputs.

Usage:
    python tools/viz_digest.py

Renders each ``viz.render_*`` figure from in-memory ``Row`` stubs (no
Spark session starts) into a temporary directory removed at exit, then
prints one ``<sha256>  <file>`` line per ``.svg``, ``.png`` and
``.html`` written, sorted by file name. Run it on two checkouts and
diff the outputs to show that a change leaves the figures'
bytes as they were. The inputs:

- a 365-point series with gaps, whose title and one legend label need
  escaping;
- a 10-year trend;
- a 40 x 12 heatmap with empty cells;
- a 40-station, 12-frame geo map with one station lacking coordinates;
- a one-point series and a one-year trend.

Not part of the test suite; it takes a few seconds.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Row  # noqa: E402

from weather_analysis_bigdata__spark import viz  # noqa: E402

STATIONS = [f"USW{i:08d}" for i in range(40)]
MONTHS = list(range(1, 13))
FRAMES = [f"2024-{m:02d}" for m in MONTHS]
ODD_LABEL = "avg <°C> & wind"


class _Frame:
    """A plot-sized aggregate held in memory: the two DataFrame calls
    the renderers make."""

    def __init__(self, rows: list[Row]) -> None:
        self.rows = rows

    def collect(self) -> list[Row]:
        return list(self.rows)

    def first(self) -> Row:
        return self.rows[0]


def _series(n: int) -> _Frame:
    day0 = datetime.date(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append(Row(**{
            "Date_1": str(day0 + datetime.timedelta(days=i)),
            "max_temperature": None if i % 17 == 5 else 20 + 9 * math.sin(i / 58),
            "min_temperature": None if 100 <= i < 130 else 8 + 7 * math.sin(i / 58),
            ODD_LABEL: 14 + 8 * math.sin(i / 58) + (i % 7) / 10,
        }))
    return _Frame(rows)


def _trend(years: list[int]) -> tuple[_Frame, _Frame]:
    vals = [11.5 + 0.04 * (y - years[0]) + 0.3 * math.sin(y) for y in years]
    n = len(years)
    my, mv = sum(years) / n, sum(vals) / n
    sxx = sum((y - my) ** 2 for y in years)
    slope = sum((y - my) * (v - mv) for y, v in zip(years, vals)) / sxx if sxx else 0.0
    yearly = _Frame([Row(year=y, avg_temperature=v) for y, v in zip(years, vals)])
    return yearly, _Frame([Row(slope=slope, intercept=mv - slope * my)])


def _heatmap() -> _Frame:
    return _Frame([
        Row(station=s, month=m,
            v=None if (si + m) % 23 == 0 else 5 + si / 4 + 10 * math.sin(m / 2))
        for si, s in enumerate(STATIONS)
        for m in MONTHS
        if (si * 12 + m) % 31 != 0  # a missing cell
    ])


def _geo() -> tuple[_Frame, _Frame]:
    frames = _Frame([
        Row(station=s, month_year=f,
            v=None if (si + fi) % 19 == 0 else 3 + si / 5 + 8 * math.sin(fi / 2))
        for si, s in enumerate(STATIONS)
        for fi, f in enumerate(FRAMES)
    ])
    stations = _Frame([
        Row(station=s, latitude=30 + (si * 7 % 40) / 3,
            longitude=None if si == 13 else -120 + si * 1.3)
        for si, s in enumerate(STATIONS)
    ])
    return frames, stations


def main() -> int:
    cols = ("max_temperature", "min_temperature", ODD_LABEL)
    with tempfile.TemporaryDirectory(prefix="viz_digest_") as out:
        def at(name: str) -> str:
            return os.path.join(out, name)

        viz.render_time_series(_series(365), "Date_1", cols, at("series_gaps.svg"),
                               title="Station <A&B> temperatures")
        viz.render_time_series(_series(1), "Date_1", cols, at("series_one_point.svg"))
        viz.render_trend(*_trend(list(range(2001, 2011))), at("trend_10y.svg"))
        viz.render_trend(*_trend([2024]), at("trend_one_year.svg"))
        viz.render_heatmap(_heatmap(), "station", "month", "v", at("heatmap_40x12.svg"))
        viz.render_geo_map(*_geo(), "v", at("geo_40x12.svg"))
        for name in sorted(os.listdir(out)):
            with open(at(name), "rb") as f:
                print(f"{hashlib.sha256(f.read()).hexdigest()}  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
