"""Medallion benchmark: seeded inputs, workloads, tracing and checks."""
