"""The query roster of __spark_entry__.py: its report holds at most 50
rows, so a query past the 50th would never be reported, and every query
is checked against an oracle of the same name."""

from __future__ import annotations


def test_roster_fits_the_report_and_pairs_with_oracles():
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) <= 50, len(qs)
    assert set(qs) == set(oracles), set(qs) ^ set(oracles)
