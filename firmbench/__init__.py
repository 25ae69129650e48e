"""Benchmark of the firmographics DAG and the relational query set (see run.py)."""
