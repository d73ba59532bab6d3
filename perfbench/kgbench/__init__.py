"""Benchmark of the knowledge-graph pipeline (see perfbench/README.md)."""
