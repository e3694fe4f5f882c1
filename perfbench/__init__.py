"""Seeded benchmark of python_prtree_spark; entry point: run.py."""
