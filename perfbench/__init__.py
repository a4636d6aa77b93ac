"""Seeded end-to-end benchmark of noise_spark (see perfbench/README.md)."""
