"""Benchmark of the live engine; see run.py."""
