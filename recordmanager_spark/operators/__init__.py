"""Dataflow operators: dedup, merge, normalize, enrich and the corpus
curation passes (text dedup, similarity, packing, diagnostics)."""
