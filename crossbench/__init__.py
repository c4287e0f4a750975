"""Benchmark of the CROssBAR Spark engine: a warm KG gold build, a text
ingest service and a vector ingest service. Entry point: ``run.py``."""
