"""Benchmark of zoom_etl_spark: see README.md."""
