"""Seeded, oracle-checked benchmark of libspatialindex_spark (see run.py)."""
