"""The fsspark benchmark: three workloads, end-to-end and per-layer metrics.

Run from the repository root: ``python3 perfbench/run.py --workload
pipeline_screen --seed 0 --seconds 30 --trace 0``. See perfbench/README.md.
"""
