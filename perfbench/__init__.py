"""Benchmark of lamapi_spark; entry point perfbench/run.py."""
