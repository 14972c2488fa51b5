"""Standalone benchmark of the engine: seeded inputs, workloads with
correctness gates, and a traced per-layer run. Entry point: ``run.py``."""
