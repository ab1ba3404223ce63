"""Benchmark of the citegraph_spark engine; entry point: run.py."""
