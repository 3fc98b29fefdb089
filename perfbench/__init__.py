"""Benchmark of the lineage and execution planes; see README.md."""
