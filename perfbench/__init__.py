"""Benchmark for the engine: seeded workloads, output checks, per-layer tracing."""
