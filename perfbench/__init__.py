"""Benchmark of the engine: see run.py and NOTES.md."""
