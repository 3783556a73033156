"""Benchmark for zpdfspark: three seeded workloads measured end to end,
plus a traced run that times each layer from outside.

Run from the repository root:

    python3 perfbench/run.py --workload pdf_heavy --seed 1 --seconds 8 --trace 0

See ``run.py`` for the workloads and metrics, and ``layers.json`` for the
layer -> end-to-end map and the modules this benchmark does not measure.
"""
