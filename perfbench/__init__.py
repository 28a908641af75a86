"""Benchmark of the extraction engine: workloads, tracing and the runner.

Run it from the repository root with ``python3 perfbench/run.py``; see
``perfbench/README.md``.
"""
