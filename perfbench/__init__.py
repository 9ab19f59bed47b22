"""Benchmark for the ocr_spark engine; entry point: perfbench/run.py."""
