"""Expected answers, computed by DuckDB from the generated files.

The Silver rules are restated here in SQL, independently of the
program's Spark code: pivot with last-write-wins by ``seq``, station
dim join, per-(year, latitude, longitude) wind means with a 0 fallback,
the (min+max)/2 temperature repair, the constant fills and the date
columns. Every Gold request the benchmark sends has a SQL twin below.

Float results (averages, correlation, regression) are compared with
:data:`REL_TOL` / :data:`ABS_TOL`; everything else must match exactly.
"""

from __future__ import annotations

import math

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9

_PIVOT = {
    "precipitation": "PRCP", "snowfall": "SNOW", "snow_depth": "SNWD",
    "max_temperature": "TMAX", "min_temperature": "TMIN",
    "avg_temperature": "TAVG", "avg_wind_speed": "AWND",
    "fastest_2min_wind": "WSF2", "wdf2": "WDF2", "wt01": "WT01",
}

_SILVER_SQL = """
WITH bronze AS (
    SELECT date, station, {pivot}
    FROM landing
    WHERE datatype IN ({codes}) AND {where}
    GROUP BY date, station, latitude, longitude
), dated AS (
    SELECT b.*, d.latitude, d.longitude,
           CAST(substr(b.date, 1, 4) AS INTEGER) AS year
    FROM bronze b LEFT JOIN dim d ON b.station = d.station_id
), wind AS (
    SELECT *,
        avg(avg_wind_speed) OVER w AS g_wind,
        avg(CAST(trunc(wdf2) AS INTEGER)) OVER w AS g_dir
    FROM dated
    WINDOW w AS (PARTITION BY year, latitude, longitude)
)
SELECT date, station, latitude, longitude, year,
    CAST(substr(date, 1, 10) AS DATE) AS Date_1,
    precipitation, snowfall, snow_depth, max_temperature, min_temperature,
    round(CASE
        WHEN avg_temperature IS NOT NULL THEN avg_temperature
        WHEN min_temperature IS NOT NULL AND max_temperature IS NOT NULL
            THEN (min_temperature + max_temperature) / 2
        ELSE 0.0 END, 2) AS avg_temperature_rounded,
    coalesce(avg_wind_speed, g_wind, 0.0) AS avg_wind_speed,
    coalesce(fastest_2min_wind, 0.0) AS fastest_2min_wind,
    coalesce(CAST(trunc(wdf2) AS INTEGER), CAST(trunc(g_dir) AS INTEGER), 0)
        AS wind_direction_2min,
    coalesce(CAST(wt01 AS VARCHAR), '0') AS weather_type_1
FROM wind
"""


def _silver_sql(where: str = "TRUE") -> str:
    pivot = ", ".join(
        f"arg_max(value, seq) FILTER (WHERE datatype = '{code}') AS {col}"
        for col, code in _PIVOT.items()
    )
    codes = ", ".join(f"'{c}'" for c in _PIVOT.values())
    return _SILVER_SQL.format(pivot=pivot, codes=codes, where=where)


class Oracle:
    """An in-memory DuckDB table of the expected Silver. Landing stays in
    its files: a view over the generated files and the late batches."""

    def __init__(self, landing_files: list[str], dim_path: str):
        self.con = duckdb.connect()
        self.landing_files = list(landing_files)
        self._landing_view()
        self.con.execute("CREATE TABLE dim AS SELECT * FROM read_parquet(?)",
                         [dim_path])
        self.con.execute("CREATE TABLE silver AS " + _silver_sql())

    def _landing_view(self) -> None:
        # A view takes no prepared parameters: the file list is inlined.
        files = ", ".join("'" + f.replace("'", "''") + "'"
                          for f in self.landing_files)
        self.con.execute(
            "CREATE OR REPLACE VIEW landing AS SELECT date, station, latitude,"
            f" longitude, datatype, value, seq FROM read_parquet([{files}])")

    def add_batch(self, batch_path: str, years: list[int]) -> None:
        """Apply a late batch: add it to landing, recompute Silver for its
        years (the wind window is per year, so other years cannot change)."""
        self.landing_files.append(batch_path)
        self._landing_view()
        ys = ", ".join(str(int(y)) for y in years)
        self.con.execute(f"DELETE FROM silver WHERE year IN ({ys})")
        self.con.execute("INSERT INTO silver " + _silver_sql(
            f"CAST(substr(date, 1, 4) AS INTEGER) IN ({ys})"))

    def silver_mismatches(self, silver_dir: str) -> int:
        """Rows of the Silver table the program wrote under ``silver_dir``
        (hive-partitioned by year) that are missing, extra, duplicated or
        differ from the expected Silver in any column."""
        got = "read_parquet(?, hive_partitioning = true)"
        cols = self.rows("SELECT column_name, data_type FROM"
                         " information_schema.columns"
                         " WHERE table_name = 'silver'")
        differs = [
            f"(e.{c} IS NULL) <> (g.{c} IS NULL) OR abs(e.{c} - g.{c})"
            f" > {ABS_TOL} + {REL_TOL} * abs(e.{c})" if t == "DOUBLE"
            else f"e.{c} IS DISTINCT FROM g.{c}"
            for c, t in cols]
        path = [f"{silver_dir}/**/*.parquet"]
        (n_got,), = self.rows(f"SELECT count(*) FROM {got}", path)
        (bad,), = self.rows(
            f"SELECT count(*) FROM silver e FULL JOIN {got} g"
            " ON e.station = g.station AND e.date = g.date"
            " WHERE e.station IS NULL OR g.station IS NULL OR "
            + " OR ".join(f"({d})" for d in differs), path)
        return bad + abs(n_got - self.silver_rows())

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def silver_rows(self) -> int:
        return self.rows("SELECT count(*) FROM silver")[0][0]

    # -- Gold twins -----------------------------------------------------
    def yearly(self):
        return self.rows("SELECT year, avg(avg_temperature_rounded), count(*)"
                         " FROM silver GROUP BY year")

    def trend(self):
        return self.rows(
            "SELECT regr_slope(a, year), regr_intercept(a, year) FROM ("
            " SELECT year, avg(avg_temperature_rounded) AS a FROM silver"
            " GROUP BY year)")

    def station_month(self, col: str):
        return self.rows(f"SELECT station, month(Date_1), avg({col})"
                         " FROM silver GROUP BY 1, 2")

    def station_month_year(self, col: str, year: int):
        return self.rows(f"SELECT station, strftime(Date_1, '%Y-%m'), avg({col})"
                         " FROM silver WHERE year = ? GROUP BY 1, 2", [year])

    def named_station_month(self, col: str, year: int):
        return self.rows(
            f"SELECT coalesce(d.name, s.station), month(s.Date_1), avg(s.{col})"
            " FROM silver s LEFT JOIN dim d ON s.station = d.station_id"
            " WHERE s.year = ? GROUP BY s.station, d.name, month(s.Date_1)",
            [year])

    def corr(self):
        return self.rows("SELECT corr(precipitation, avg_temperature_rounded)"
                         " FROM silver")

    def series(self, station: str, year: int):
        return self.rows(
            "SELECT Date_1, max_temperature, min_temperature,"
            " avg_temperature_rounded FROM silver"
            " WHERE station = ? AND year = ? ORDER BY Date_1", [station, year])

    def n_stations(self) -> int:
        return self.rows("SELECT count(*) FROM dim")[0][0]


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def same_rows(got, want, ordered: bool = False) -> bool:
    """Row-set equality with float tolerance; ``ordered`` also checks
    row order."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple((x is None, str(x)) for x in r[:2])  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(map(_same, g, w))
               for g, w in zip(got, want))
