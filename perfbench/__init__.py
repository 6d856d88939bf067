"""Benchmark for the columnar engine: see README.md and run.py."""
