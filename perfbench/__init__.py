"""Seeded benchmark of the join and tiling paths (see README.md)."""
