"""Benchmark of the a2b_spark engine; run ``python3 perfbench/run.py --help``."""
