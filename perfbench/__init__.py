"""Stateful-flow benchmark (see run.py)."""
