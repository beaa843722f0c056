"""Plan compiler, profiling, validation, dedup and text operators."""
