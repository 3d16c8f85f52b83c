"""Benchmark of dbdiff_spark: see run.py."""
