"""Year backfill: recompute whole Silver years from landing and commit them.

Late or corrected NOAA deliveries land beside the records they correct.
A year of Silver is a pure function of that year's landing records and
the station dim (the wind window groups never straddle a year), so a
backfill rebuilds exactly the touched years through the same Bronze and
Silver chain as a full build and overwrites only their ``year=``
partitions. Every other year's files stay byte-identical.
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
    partitions equal the same years of a fresh full build.
    """
    long_df = landing_df.filter(F.year("date").isin(list(years)))
    silver = build_silver(build_bronze(long_df), dim_df)
    write_parquet(silver, silver_path, partition_by=("year",))
