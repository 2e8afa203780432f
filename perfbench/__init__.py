"""Benchmark harness for the repository (see perfbench/NOTES.md)."""
