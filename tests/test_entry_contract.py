"""Pins for the driver contract (__spark_entry__): registry completeness and
the merge of the two registry modules into one name space."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)
    assert len(q) >= 119


def test_registries_do_not_collide():
    """Every caller merges the two registries with {**Q1, **Q2}, so a name
    registered in both modules would silently shadow the relational one."""
    from agent_data_wrangler_spark.queryset import QUERIES as Q1
    from agent_data_wrangler_spark.queryset_nstar import QUERIES as Q2

    assert not set(Q1) & set(Q2), sorted(set(Q1) & set(Q2))
    assert len(entry.queries()) == len(Q1) + len(Q2)
