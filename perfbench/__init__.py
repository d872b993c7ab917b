"""Benchmark of the real-estate engine: see README.md in this directory."""
