"""Benchmark of the datapipelines_spark engine; run ``python3 perfbench/run.py``."""
