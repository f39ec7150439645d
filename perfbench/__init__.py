"""Benchmark harness for ai_ocr_spark; entry point: perfbench/run.py."""
