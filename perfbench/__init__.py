"""Benchmark of polars_readstat_rs_spark: see run.py."""
