"""Driver-contract hygiene: every registered query has an oracle unless it
is consciously engine-native, and the bench headline only names real
queries. Pure-python — no Spark session."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_every_query_is_oracled_or_consciously_native():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    # every oracle belongs to a registered query
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    # since r5 EVERY query is oracled (gorilla_roundtrip got a closed-form
    # expected-row-set oracle); adding a rows-only query must be a
    # conscious decision here
    assert set(qs) - set(osql) == set(), sorted(set(qs) - set(osql))


def test_bench_headline_names_real_queries():
    import __spark_entry__ as e
    import bench

    qs = set(e.queries())
    assert set(bench.HEADLINE) <= qs, sorted(set(bench.HEADLINE) - qs)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
