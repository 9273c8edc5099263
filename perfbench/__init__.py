"""Benchmark of the streaming consumer and the dedup corpus jobs; see
LAYERS.md."""
