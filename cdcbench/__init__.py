"""Seeded CDC benchmark for the streaming apply path (see cdcbench/README.md)."""
