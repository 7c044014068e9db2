"""Benchmark of the visionsearch_spark index lifecycle (see run.py)."""
