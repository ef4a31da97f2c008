"""Closed-loop, seeded, checked benchmark of tgdigest_spark (see README.md)."""
