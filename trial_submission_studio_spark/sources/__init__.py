"""Ingest: EDC CSV reading, items metadata and small literal frames."""
