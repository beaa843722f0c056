"""Structured Streaming ingest, windowed aggregation and as-of joins."""
