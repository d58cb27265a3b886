"""Benchmark harness for pond-spark (see perfbench/README.md)."""
