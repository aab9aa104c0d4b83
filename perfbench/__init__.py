"""Benchmark of the gdal_spark engine: four workloads, end-to-end
metrics, and a traced per-layer run. Entry point: ``perfbench/run.py``."""
