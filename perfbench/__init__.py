"""Benchmark of the CDC engine: see README.md."""
