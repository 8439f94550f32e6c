"""Seeded end-to-end and per-layer benchmark for lazy_frame_spark.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
