"""Benchmark of the krnel_graph_spark engine; entry point ``run.py``."""
