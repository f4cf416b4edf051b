"""Benchmark of the engine: workloads, input generator, tracing and an
independent output checker. Entry point: run.py."""
