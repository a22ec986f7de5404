"""Benchmark for bionext-spark: see README.md in this directory."""
