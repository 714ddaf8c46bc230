"""Layered benchmark for the ore-etl-spark CDC engine (see README.md)."""
