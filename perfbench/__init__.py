"""Seeded end-to-end and per-layer benchmark for the cvocr_spark pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads, metrics and predictions.
"""
