"""Layered benchmark for the ytsaurus_spark engine (entry point: run.py)."""
