"""Seeded NOAA-shaped input generator for the medallion benchmark.

Everything the program under test reads is written here, as parquet
files, from a numpy ``Generator`` seeded by the benchmark's ``--seed``:
the same seed gives byte-for-byte the same tables.

Planted cases (the ones the Bronze/Silver code paths exist for):

- about 1/7 of all measurements missing        -> pivot nulls
- TAVG missing for a further 1/3               -> (min+max)/2 repair
- one station reports no wind at all           -> group mean null -> 0
- about 1/11 of the measurements re-delivered
  later with a higher ``seq`` and a new value  -> last-write-wins pivot
- late batches: corrections for two years with
  a ``seq`` above every earlier delivery       -> partition backfill
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATATYPES = ("PRCP", "SNOW", "SNWD", "TMAX", "TMIN", "TAVG",
             "AWND", "WSF2", "WDF2", "WT01")
WIND = ("AWND", "WSF2", "WDF2")
_DT = {d: i for i, d in enumerate(DATATYPES)}

#: NOAA long-format record, as ``pipeline.schemas.NOAA_LONG_SCHEMA``.
LONG_COLUMNS = ("date", "station", "latitude", "longitude", "datatype",
                "value", "seq")

#: First year of every generated dataset.
FIRST_YEAR = 2001

DIM_SCHEMA = pa.schema([
    ("station_id", pa.string()),
    ("name", pa.string()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
])


@dataclass
class Dataset:
    """What the generator wrote, and what the benchmark needs to know
    about it (the program itself only sees the files)."""

    stations: list[str]
    years: list[int]
    no_wind_station: str
    landing_dir: str
    #: The landing files as generated, before the program appends any.
    landing_files: list[str]
    dim_path: str
    n_records: int
    landing_bytes: int
    lat: np.ndarray = field(repr=False)
    lon: np.ndarray = field(repr=False)


def _stations(rng: np.random.Generator, n: int):
    nums = rng.choice(100_000, size=n, replace=False)
    ids = [f"GHCND:USW000{k:05d}" for k in sorted(nums)]
    # Distinct coordinates: Silver's wind imputation groups by
    # (year, latitude, longitude), i.e. by station.
    lat = np.round(25.0 + np.arange(n) * (24.0 / n) + rng.uniform(0, 0.2, n), 5)
    lon = np.round(rng.uniform(-124.0, -68.0, n), 5)
    names = [f"STATION {i:03d} {ids[i][-5:]}" for i in range(n)]
    return ids, names, lat, lon


def _values(rng: np.random.Generator, dt: np.ndarray, lat: np.ndarray,
            doy: np.ndarray) -> np.ndarray:
    """Measurement values in NOAA's tenths, so every value has at most
    one decimal and Silver's round(.., 2) never meets a tie."""
    n = dt.size
    season = np.cos(2 * np.pi * (doy - 200) / 365.25)
    base = 30.0 - 0.5 * (lat - 25.0) + 12.0 * season
    tmax = base + rng.normal(0, 4, n)
    out = np.empty(n)
    out[:] = np.nan
    sel = dt == _DT["TMAX"]
    out[sel] = tmax[sel]
    sel = dt == _DT["TMIN"]
    out[sel] = tmax[sel] - rng.uniform(3, 12, sel.sum())
    sel = dt == _DT["TAVG"]
    out[sel] = tmax[sel] - rng.uniform(1, 6, sel.sum())
    sel = dt == _DT["PRCP"]
    out[sel] = np.where(rng.random(sel.sum()) < 0.7, 0.0,
                        rng.exponential(6.0, sel.sum()))
    for code, p in (("SNOW", 0.95), ("SNWD", 0.9)):
        sel = dt == _DT[code]
        out[sel] = np.where(rng.random(sel.sum()) < p, 0.0,
                            rng.exponential(40.0, sel.sum()))
    sel = dt == _DT["AWND"]
    out[sel] = rng.gamma(2.0, 2.0, sel.sum())
    sel = dt == _DT["WSF2"]
    out[sel] = rng.gamma(2.0, 4.0, sel.sum()) + 2.0
    sel = dt == _DT["WDF2"]
    out[sel] = rng.integers(0, 36, sel.sum()) * 10.0
    sel = dt == _DT["WT01"]
    out[sel] = 1.0
    return np.round(out, 1)


def _dates(years: list[int]) -> np.ndarray:
    return np.arange(np.datetime64(f"{years[0]}-01-01"),
                     np.datetime64(f"{years[-1] + 1}-01-01"))


def _date_strings(days: np.ndarray) -> np.ndarray:
    return np.char.add(days.astype("datetime64[D]").astype(str), "T00:00:00")


def _dict(indices: np.ndarray, values) -> pa.DictionaryArray:
    return pa.DictionaryArray.from_arrays(
        pa.array(indices.astype(np.int32)), pa.array(values, pa.string()))


def _table(day, dates, st, stations, lat, lon, dt, value, seq) -> pa.Table:
    """Long records; string columns are dictionary-encoded by index."""
    cols = [_dict(day, dates), _dict(st, stations), pa.array(lat[st]),
            pa.array(lon[st]), _dict(dt, DATATYPES), pa.array(value),
            pa.array(seq, type=pa.int64())]
    return pa.Table.from_arrays(cols, names=list(LONG_COLUMNS))


def generate(out_dir: str, seed: int, n_stations: int, n_years: int,
             by_year: bool) -> Dataset:
    """Write the landing zone (long records) and the station dimension
    under ``out_dir``. ``by_year`` lays landing out hive-partitioned by
    year (``landing/year=YYYY/``), otherwise as flat part files."""
    # The station network is a fixed property of the workload; only the
    # measurements depend on the seed. (Silver's file layout follows the
    # hash of the stations' coordinates.)
    ids, names, lat, lon = _stations(np.random.default_rng(0), n_stations)
    rng = np.random.default_rng(seed)
    years = list(range(FIRST_YEAR, FIRST_YEAR + n_years))
    days = _dates(years)
    n_days = days.size

    # Record grid: (day, station, datatype), station-major within a day.
    n = n_days * n_stations * len(DATATYPES)
    idx = np.arange(n, dtype=np.int64)
    dt = (idx % len(DATATYPES)).astype(np.int8)
    st = ((idx // len(DATATYPES)) % n_stations).astype(np.int32)
    dy = (idx // (len(DATATYPES) * n_stations)).astype(np.int32)

    no_wind = int(rng.integers(n_stations))
    keep = rng.random(n) >= 1 / 7
    keep &= ~((dt == _DT["TAVG"]) & (rng.random(n) < 1 / 3))
    wind = np.isin(dt, [_DT[w] for w in WIND])
    keep &= ~((st == no_wind) & wind)
    idx, dt, st, dy = idx[keep], dt[keep], st[keep], dy[keep]

    doy = (days[dy] - days[dy].astype("datetime64[Y]")).astype(np.int64)
    value = _values(rng, dt, lat[st], doy)
    seq = idx

    # Re-deliveries: same key, a new value, a higher seq.
    red = rng.random(idx.size) < 1 / 11
    delta = rng.choice([0.5, 1.0, 2.0], red.sum())
    r_val = np.round(value[red] + delta, 1)
    r_val = np.where(dt[red] == _DT["WDF2"], np.mod(value[red] + 20 * delta, 360.0), r_val)
    r_val = np.where(dt[red] == _DT["WT01"], 1.0, r_val)
    all_dt = np.concatenate([dt, dt[red]])
    all_st = np.concatenate([st, st[red]])
    all_dy = np.concatenate([dy, dy[red]])
    all_val = np.concatenate([value, r_val])
    all_seq = np.concatenate([seq, seq[red] + n])

    date_str = list(_date_strings(days))
    landing = os.path.join(out_dir, "landing")
    os.makedirs(landing, exist_ok=True)
    year_of_day = days.astype("datetime64[Y]").astype(np.int64) + 1970
    # Re-deliveries land in their own files after the first deliveries,
    # as a second drop would.
    bounds = [(0, idx.size, "part"), (idx.size, all_dt.size, "redelivery")]
    files = []
    for lo, hi, stem in bounds:
        sl = slice(lo, hi)
        t = _table(all_dy[sl], date_str, all_st[sl], ids, lat, lon,
                   all_dt[sl], all_val[sl], all_seq[sl])
        if by_year:
            yrs = year_of_day[all_dy[sl]]
            for y in years:
                d = os.path.join(landing, f"year={y}")
                os.makedirs(d, exist_ok=True)
                p = os.path.join(d, f"{stem}-00000.parquet")
                pq.write_table(t.filter(pa.array(yrs == y)), p)
                files.append(p)
        else:
            n_files = 4
            step = -(-t.num_rows // n_files)
            for k in range(n_files):
                p = os.path.join(landing, f"{stem}-{k:05d}.parquet")
                pq.write_table(t.slice(k * step, step), p)
                files.append(p)

    dim_path = os.path.join(out_dir, "station_dim.parquet")
    pq.write_table(pa.Table.from_arrays(
        [pa.array(ids), pa.array(names), pa.array(lat), pa.array(lon)],
        schema=DIM_SCHEMA), dim_path)
    return Dataset(ids, years, ids[no_wind], landing, files, dim_path,
                   int(all_dt.size), sum(map(os.path.getsize, files)), lat, lon)


def generate_in_child(out_dir: str, seed: int, n_stations: int,
                      n_years: int, by_year: bool) -> Dataset:
    """:func:`generate` in a child Python process, so the generator's
    arrays never count in the caller's peak resident memory."""
    subprocess.run([sys.executable, os.path.abspath(__file__), out_dir,
                    str(seed), str(n_stations), str(n_years), str(int(by_year))],
                   check=True)
    with open(os.path.join(out_dir, "dataset.json")) as f:
        d = json.load(f)
    return Dataset(**{**d, "lat": np.asarray(d["lat"]),
                      "lon": np.asarray(d["lon"])})


def late_batch(ds: Dataset, seed: int, k: int, path: str,
               n_records: int) -> tuple[list[int], int]:
    """Write late batch ``k``: ``n_records`` corrected measurements for
    two seeded years, with seqs above every earlier delivery (and above
    batch ``k - 1``). The file carries a ``year`` column so it can be
    appended to the year-partitioned landing zone. Returns the two years
    and the file size."""
    rng = np.random.default_rng([seed, k])
    ys = sorted(int(y) for y in rng.choice(ds.years, size=2, replace=False))
    n_st = len(ds.stations)
    st = rng.integers(0, n_st, n_records)
    dt = rng.integers(0, len(DATATYPES), n_records).astype(np.int8)
    # The no-wind station stays windless.
    no_wind = ds.stations.index(ds.no_wind_station)
    bad = (st == no_wind) & np.isin(dt, [_DT[w] for w in WIND])
    dt[bad] = _DT["TMAX"]
    year = np.asarray(ys)[rng.integers(0, 2, n_records)]
    doy = rng.integers(0, 365, n_records)
    days = (np.array([np.datetime64(f"{y}-01-01") for y in year])
            + doy.astype("timedelta64[D]"))
    value = _values(rng, dt, ds.lat[st], doy)
    base = 2 * ds.n_records + (k + 1) * 10_000_000
    # Corrections of one key inside a batch keep distinct seqs too.
    seq = base + np.arange(n_records, dtype=np.int64)
    dates, day = np.unique(_date_strings(days), return_inverse=True)
    t = _table(day, list(dates), st, ds.stations, ds.lat, ds.lon, dt, value, seq)
    t = t.append_column("year", pa.array(year.astype(np.int32)))
    pq.write_table(t, path)
    return ys, os.path.getsize(path)


if __name__ == "__main__":
    # gen.py OUT_DIR SEED STATIONS YEARS BY_YEAR: write the inputs and
    # their Dataset description (OUT_DIR/dataset.json).
    out, seed, n_st, n_y, by_y = sys.argv[1:]
    ds = generate(out, int(seed), int(n_st), int(n_y), by_y == "1")
    with open(os.path.join(out, "dataset.json"), "w") as f:
        json.dump({**dataclasses.asdict(ds), "lat": ds.lat.tolist(),
                   "lon": ds.lon.tolist()}, f)
