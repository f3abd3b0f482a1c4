"""Corpus-safety benchmark: ``python3 perfbench/run.py --workload <name> ...``.

See perfbench/METRICS.md for the workloads, the metrics and the baseline.
"""
