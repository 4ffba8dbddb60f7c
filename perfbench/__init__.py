"""Benchmark for document-extractor-spark: see perfbench/README.md."""
