"""Format-specific record extractors (reference: src/RecordManager/Base/Record/)."""
