"""Seeded two-workload benchmark of the segment-index engine (see README.md)."""
