"""Every registered driver query must have an oracle (the round-9
lesson: a registered query without an oracle puts a permanent err row
in the external correctness record)."""

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())
