"""Benchmark for the engine: workloads, tracing and output checks (see README.md)."""
