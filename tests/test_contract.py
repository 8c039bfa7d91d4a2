"""Driver-contract invariants (no Spark session needed).

The registration has to stay honest: every query needs an oracle (or
a deliberate rows-only note), and the COVERAGE.md operator map must
mention every registered query.
"""

import os

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    # no orphan oracle (a renamed query would silently lose its check)
    assert oracles <= qs, sorted(oracles - qs)
    # every query is oracle-checked; if a future op is genuinely not
    # SQL-expressible, list it here explicitly instead of loosening
    rows_only_allowed: set[str] = set()
    assert qs - oracles <= rows_only_allowed, sorted(qs - oracles)


def test_coverage_map_mentions_every_query():
    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    missing = sorted(n for n in entry_mod.queries() if n not in cov)
    assert not missing, f"COVERAGE.md is missing queries: {missing}"

