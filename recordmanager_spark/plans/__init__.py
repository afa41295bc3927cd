"""Query plans: the filter DSL and the field-mapping tables."""
