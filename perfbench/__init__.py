"""Benchmark for the eclipse_spark engine: three workloads driven through
the engine's public API, with output checks and an optional trace of
per-layer time. Run ``python3 perfbench/run.py --help``."""
