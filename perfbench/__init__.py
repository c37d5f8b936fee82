"""Benchmark of the engine: seeded workloads, output checks, traced layer attribution."""
