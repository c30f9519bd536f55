"""Benchmark for chronicle_sniffer_spark; entry point is ``perfbench/run.py``."""
