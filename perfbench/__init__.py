"""Benchmark of the deployed feature pipeline; see run.py."""
