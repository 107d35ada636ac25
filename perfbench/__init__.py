"""Benchmark of the search_engine_spark package (see README.md)."""
