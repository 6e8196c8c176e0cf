"""Benchmark for the etl_pipelines_spark engine; entry point: run.py."""
