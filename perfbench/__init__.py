"""Benchmark of the three user paths; entry point ``perfbench/run.py``."""
