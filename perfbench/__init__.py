"""Benchmark of the extraction engine: seeded workloads, end-to-end metrics
from untraced runs and a per-layer split from a separately traced run.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
