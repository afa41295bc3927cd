"""Sinks: batched index updates, file export, dumps (SURVEY §2.2)."""
