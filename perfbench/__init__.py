"""End-to-end and per-layer benchmark for findb_spark (see README.md)."""
