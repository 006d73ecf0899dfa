"""Benchmark of the whole engine; entry point ``perfbench/run.py``."""
