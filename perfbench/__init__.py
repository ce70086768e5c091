"""Benchmark of the unique-users engine: see README.md in this directory."""
