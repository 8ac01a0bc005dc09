"""Benchmark for the spark_dba_spark engine (see README.md)."""
