"""Benchmark of the transcript pipeline; see run.py."""
