"""Benchmark for feathr_spark: see README.md in this directory."""
