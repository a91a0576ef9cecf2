"""Seeded end-to-end benchmark of graphiti_spark; run ``python3 perfbench/run.py``."""
