"""Scalar metadata functions (reference: Base/Utils/MetadataUtils.php)."""
