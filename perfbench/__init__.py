"""Repo benchmark: seeded workloads, oracles, tracing and comparison."""
