"""Benchmark for the CDC engine; see README.md."""
