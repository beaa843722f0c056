"""Structured Streaming windowed aggregation."""
