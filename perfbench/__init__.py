"""Benchmark for the spark-graft engine: ``python3 perfbench/run.py --help``."""
