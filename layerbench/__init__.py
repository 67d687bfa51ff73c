"""Layered benchmark for the pcgraph partition-centric engine (see run.py)."""
