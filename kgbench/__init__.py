"""Benchmark for medcat-spark: seeded workloads, output checks, traced runs.

Run from the repository root: ``python3 kgbench/run.py --workload annotate
--seed 1 --seconds 10 --trace 0``.  See ``kgbench/DESIGN.md``.
"""
