"""Repository benchmark for prefixtree_spark: four workloads driven only
through the package's public functions. Entry point: ``perfbench/run.py``."""
