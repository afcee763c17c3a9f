"""Ingest benchmark for binlake_spark: three workloads, end-to-end and
per-layer metrics, oracle-checked results.  Entry point: ``run.py``."""
