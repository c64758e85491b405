"""Benchmark for parallel_dataflow_spark; see run.py."""
