from weather_analysis_bigdata__spark.sources.files import (  # noqa: F401
    TABLES,
    load_table,
)
