"""Sources: harvesters, record splitting, transforms and the record store."""
