"""Benchmark of spapy_spark: ``python3 perfbench/run.py --help``."""
