"""Linkage benchmark; entry point is run.py."""
