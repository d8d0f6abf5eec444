"""Benchmark for igtdetect_spark: flagship IGT detection and a registry
query mix on Spark local[4]. Entry point: ``perfbench/run.py``."""
