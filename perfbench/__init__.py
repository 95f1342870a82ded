"""Benchmark for the finmapreduce_spark engine; entry point ``perfbench/run.py``."""
