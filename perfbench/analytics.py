"""The analytics query suite, timed through ``__spark_entry__.queries()``.

The fourteen ``bench.py`` headline queries (relational, dedup,
similarity, textstats) over the read-only TPC-H-style test data at
``SF_DIR``, in an order permuted by the run's seed.  Each query runs
once, in a JVM the crawl has already warmed, and its result is checked
against its DuckDB twin from ``__spark_entry__.oracle_sql()`` with the
repository's own oracle comparison (``tests/oracle_check.py``).
"""

from __future__ import annotations

import os
import random
import time

import bench

#: the 14 headline queries of bench.py
QUERIES = list(bench.HEADLINE)
#: the test data bench.py reads, at sf0.01: its default sf0.1 would not
#: fit a traced run's time limit
SF_DIR = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.01")


class _Fetched:
    """A query result already fetched to pandas, in the shape
    ``assert_matches`` reads, so the check does not run the query again."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run_suite(spark, seed: int, sf_dir: str = SF_DIR) -> dict:
    """One pass in a seed-permuted order: each query is timed until its
    result is in pandas, then checked against its DuckDB twin outside
    the timing.  ``errors`` holds one line per mismatching query."""
    import __spark_entry__ as entry
    from tests.oracle_check import assert_matches

    qs, sqls = entry.queries(), entry.oracle_sql()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    q_s: dict[str, float] = {}
    errors = []
    for name in order:
        t0 = time.monotonic()
        pdf = qs[name](spark, sf_dir).toPandas()
        q_s[name] = time.monotonic() - t0
        try:
            assert_matches(_Fetched(pdf), sqls[name], sf_dir, name)
        except AssertionError as e:
            errors.append(str(e))
    return {"q_s": q_s, "suite_s": sum(q_s.values()), "errors": errors}
