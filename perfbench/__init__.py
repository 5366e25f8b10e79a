"""Benchmark for the sales engine: ingest and read-only query workloads."""
