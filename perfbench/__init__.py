"""Benchmark of the timebox_spark engine: see perfbench/README.md."""
