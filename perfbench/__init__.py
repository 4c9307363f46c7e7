"""Benchmark of the docvision_spark entry points; see run.py."""
