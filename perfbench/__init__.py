"""Standalone benchmark of the extraction engine (see run.py)."""
