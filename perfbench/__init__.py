"""Seeded, steady benchmark of the hadoop_20_spark engine; entry point
``perfbench/run.py``."""
