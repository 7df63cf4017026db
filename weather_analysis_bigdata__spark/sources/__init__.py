"""Sources: Parquet files and the layer sink, the NOAA REST connector and
the synthetic-weather Python DataSource."""
