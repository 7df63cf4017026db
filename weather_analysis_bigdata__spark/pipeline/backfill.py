"""Year backfill: recompute whole Silver years from landing and commit them.

Late or corrected NOAA deliveries land beside the records they correct.
A year of Silver is a pure function of that year's landing records and
the station dim (the wind window groups never straddle a year), so a
backfill rebuilds exactly the touched years through the same Bronze and
Silver chain as a full build and overwrites only their ``year=``
partitions. Every other year's files stay byte-identical.

Landing layout: hive-partitioned by ``year``, each record filed under
its ``year(date)`` (a flat landing works too, read whole). A rebuild then
reads only its years' directories, so a rebuild of a few years is small
enough for Bronze and Silver to run in one task with no shuffle
(``sources.files.gather_small_scan``).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
from weather_analysis_bigdata__spark.pipeline.silver import build_silver
from weather_analysis_bigdata__spark.sources.files import write_parquet


def rebuild_years(
    landing_df: DataFrame,
    dim_df: DataFrame,
    silver_path: str,
    years: Iterable[int],
) -> None:
    """Rebuild the Silver partitions of ``years`` from the long landing
    records and replace them at ``silver_path``.

    Landing is filtered on Silver's own year derivation, so the rebuilt
    partitions equal the same years of a fresh full build. A landing
    with a ``year`` column (hive-partitioned by year) is filtered on it
    too, so only the rebuilt years' directories are read. Its contract:
    each record is filed under its ``year(date)``. A record read whose
    ``year(date)`` differs from its ``year`` fails the job instead of
    dropping out of the rebuild.
    """
    years = list(years)
    in_years = F.year("date").isin(years)
    if "year" in landing_df.columns:
        in_years = F.col("year").isin(years) & F.when(
            F.year("date") == F.col("year"), in_years
        ).otherwise(F.raise_error(F.format_string(
            "landing record dated %s is filed under year=%s", "date", "year"
        )))
    silver = build_silver(build_bronze(landing_df.filter(in_years)), dim_df)
    write_parquet(silver, silver_path, partition_by=("year",))
