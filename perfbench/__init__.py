"""Seeded end-to-end benchmark of the report engine (see ``run.py``)."""
