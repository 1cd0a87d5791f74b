"""Benchmark for the engine: closed-loop workloads driven through
``__spark_entry__.queries()`` and ``engine.Engine``, with per-layer numbers
read from outside the package (Spark's event log and streaming progress
events). Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
