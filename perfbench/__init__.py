"""Benchmark of dask_grblas_spark: see README.md."""
