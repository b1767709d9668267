"""Seeded end-to-end and per-layer benchmark of the unified vector
database package. Entry point: `python3 perfbench/run.py`; see
README.md."""
