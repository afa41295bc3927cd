"""Incremental and streaming pipelines: watermarks and stateful dedup."""
