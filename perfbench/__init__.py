"""Benchmark of the secdb_spark engine; see README.md in this directory."""
