"""Benchmark for qfspark; see README.md in this directory."""
