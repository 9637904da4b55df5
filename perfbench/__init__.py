"""Benchmark of the mlx_vector_db_spark engine: three workloads, end-to-end
metrics and per-layer Spark counters. Entry point: ``perfbench/run.py``."""
