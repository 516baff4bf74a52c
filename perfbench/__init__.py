"""Benchmark of the engine: workloads, fixture generator and tracer."""
