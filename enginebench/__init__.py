"""Seeded end-to-end benchmark of the CDC engine (see README.md)."""
