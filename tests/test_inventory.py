"""Run every declared query against the DuckDB oracle at the small SF.

This mirrors the driver's t2 correctness gate (CORRECTNESS_r{N}.json):
row-count + column-name + order-insensitive value comparison. It also
holds every query to the cache rule (``cache.py``): releasing the
returned frame frees every block the query pinned.
"""

from __future__ import annotations

import pytest

from odsc_agentic_ai_summit_2025_spark.cache import release
from odsc_agentic_ai_summit_2025_spark.plans.oracle import (
    compare,
    duckdb_connect,
)
from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    return duckdb_connect(sf_dir)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    q = QUERIES[name]
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keySet())
    df = q.spark(spark, sf_dir)
    if q.oracle is None:
        # rows-only contract: must execute and return a stable schema
        assert df.count() >= 0
        assert len(df.columns) > 0
    else:
        ok, detail = compare(df, oracle_con, q.oracle)
        assert ok, f"{name}: {detail}"
    release(df)
    left = set(pinned().keySet()) - before
    assert not left, f"{name}: RDD(s) {sorted(left)} left pinned"


# ---------------------------------------------------------------------------
# Folded from test_review_r5c: inventory input validation
# ---------------------------------------------------------------------------


def test_run_inventory_rejects_unknown_names(spark):
    from odsc_agentic_ai_summit_2025_spark.plans.oracle import run_inventory

    with pytest.raises(ValueError, match="unknown query names"):
        run_inventory(spark, "/root/testdata/sf0.001", names=["q999_typo"])
