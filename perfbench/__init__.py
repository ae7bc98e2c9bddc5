"""Benchmark for the extraction engine; see DESIGN.md."""
