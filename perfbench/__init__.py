"""Benchmark of the json_schema_modern_spark validation engine; see README.md."""
