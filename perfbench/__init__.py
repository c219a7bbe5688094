"""Benchmark of the pac_spark engine; run ``python3 perfbench/run.py --help``."""
