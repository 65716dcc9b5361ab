"""Physical-plan shape regression tests.

The scale contract (SCALING.md) is enforced here, not just documented:
every inventory query's physical plan is swept for the operators that
do not survive 100 TB — CartesianProduct and BroadcastNestedLoopJoin
replicate a full side per partition — and the flagship plans are
checked for the properties that make them fast (parquet filter
pushdown, broadcast dimension joins, column pruning).

Planning only (queryExecution().executedPlan()) — no query runs;
operators that collect during plan CONSTRUCTION (kNN query sets,
LSH census passes) execute those driver-side steps at sf0.001.
"""

from __future__ import annotations

import pytest

from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _find_all(haystack: str, needle: str) -> list[int]:
    out, i = [], haystack.find(needle)
    while i != -1:
        out.append(i)
        i = haystack.find(needle, i + 1)
    return out

# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side
# is provably bounded: a no-grouping scalar aggregate (1 row of
# totals) or the K-row centroid table. Each entry documents why.
BNLJ_ALLOWED = {
    "q47_ivf_knn": "queries × K centroids — both sides bounded, probe selection",
    "q79_ivfpq_knn": "queries × K centroids — both sides bounded, probe selection",
    "q58_heavy_hitters": "1-row scalar total broadcast against term counts",
    "q73_source_mix": "1-row scalar totals broadcast against per-source counts",
    "q93_curriculum_order": (
        "1-row corpus-total broadcast for tier arithmetic on the "
        "distributed quality rank"
    ),
    "q84_tfidf_top_terms": (
        "1-row n_docs scalar-totals broadcast into the score expression "
        "(replaces an eager driver-side count action)"
    ),
    "q85_weighted_resample": (
        "inherits q73's 1-row scalar-totals broadcast inside the weight "
        "computation; the corpus-side weight join itself is a broadcast "
        "HASH join"
    ),
}


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_quadratic_join_operators(name, spark, sf_dir):
    q = all_queries()[name]
    df = q.spark(spark, sf_dir)
    plan = _physical_plan(df)
    for op in FORBIDDEN:
        if op == "BroadcastNestedLoopJoin" and name in BNLJ_ALLOWED:
            # still must be a BROADCAST nested loop, never a shuffled
            # one: inspect each BNLJ node itself — it must declare a
            # build side and have a BroadcastExchange in its subtree
            # (a whole-plan "BroadcastExchange in plan" would be
            # satisfied by any unrelated broadcast hash join)
            for idx in _find_all(plan, "BroadcastNestedLoopJoin"):
                node = plan[idx : idx + 120]
                assert "BuildLeft" in node or "BuildRight" in node, (
                    f"{name}: BNLJ node missing build side:\n{node}"
                )
                subtree = plan[idx : idx + 2000]
                assert "BroadcastExchange" in subtree, (
                    f"{name}: BNLJ without a BroadcastExchange child — "
                    f"a shuffle-replicated nested loop:\n{subtree[:600]}"
                )
            continue
        assert op not in plan, (
            f"{name}: {op} in physical plan — this replicates a full "
            f"side per partition and does not survive scale:\n{plan[:2000]}"
        )


def test_q01_scan_prunes_and_pushes(spark, sf_dir):
    """TPC-H Q1 shape: the lineitem scan must push the shipdate filter
    and read only the referenced columns."""
    q = all_queries()["q01_pricing_summary"]
    plan = _physical_plan(q.spark(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema  # widest column stays unread


def test_q09_multihop_broadcasts_dimensions(spark, sf_dir):
    """The 5-table pattern join should broadcast every dimension —
    no shuffle exchange for region/nation/customer/supplier."""
    q = all_queries()["q09_multihop_revenue"]
    plan = _physical_plan(q.spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4


def test_q02_filter_pushdown(spark, sf_dir):
    q = all_queries()["q02_filter_project"]
    plan = _physical_plan(q.spark(spark, sf_dir))
    assert "PushedFilters: [" in plan


def test_exact_dedup_shuffles_digests_not_documents(spark, sf_dir):
    """q34's exchange must carry the sha2 digest, not the text body."""
    q = all_queries()["q34_dedup_exact"]
    plan = _optimized_plan(q.spark(spark, sf_dir))
    # the aggregate keys on the digest expression
    assert "sha2" in plan


def test_q109_hdr_shuffles_buckets_not_rows(spark, sf_dir):
    """q109's exchange must carry bucket rows (post-partial-aggregate),
    never the raw value rows: the partial count appears BEFORE the
    first exchange, and the scan reads only the two referenced
    columns."""
    q = all_queries()["q109_hdr_quantiles"]
    plan = _physical_plan(q.spark(spark, sf_dir))
    # the tree prints top-down, so the DEEPEST exchange is the last
    # "Exchange" in the string; the map-side partial count must sit
    # BELOW it (later in the string), i.e. before any shuffle
    assert "partial_count" in plan
    assert plan.rindex("Exchange") < plan.index("partial_count"), plan
    # scan reads only the two referenced columns
    tail = plan[plan.rindex("FileScan"):][:400]
    assert "o_comment" not in tail and "o_clerk" not in tail, tail


def test_q110_hll_shuffles_registers_not_rows(spark, sf_dir):
    """q110's register build must partial-aggregate map-side (the
    per-shard MAX over ranks appears below its exchange), so each
    task ships at most groups x 32 register rows into the shuffle —
    never raw user_id rows — and the scan prunes to the three
    referenced columns. Asserted on the register-build branch in
    isolation (the full q110 plan is a multi-branch join, where
    deepest-exchange position is not meaningful)."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.sketches import (
        hll_registers,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    plan = _physical_plan(hll_registers(ev, ["event_type", "day"], "user_id"))
    assert "partial_max" in plan
    assert plan.rindex("Exchange") < plan.index("partial_max"), plan
    tail = plan[plan.rindex("FileScan"):][:400]
    assert "props" not in tail and "value" not in tail, tail


def test_triangle_corners_enumerate_once(spark):
    """The corner count must consume the wedge+closure join in ONE
    pass (`explode(array(u,v,w))`) — the r10 shape's 3-branch
    unionAll of corner projections re-ran the join per branch (union
    branches reuse input exchanges but not the join itself; measured
    3x the enumeration cost at gate scale, r11). Pinned on the
    optimized plan: the per-corner aggregate sits directly on one
    explode of the triangle rows, with no Union between them (the
    degree table's endpoint union deeper in the plan is legitimate)."""
    from odsc_agentic_ai_summit_2025_spark.cache import release, sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        triangle_counts,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a_id long, b_id long"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    # driver_budget_bytes=0 forces the DISTRIBUTED wedge join (the r14
    # driver fast path would otherwise absorb a graph this small) —
    # this test exists to pin the distributed enumeration shape
    res = triangle_counts(pairs, verts, driver_budget_bytes=0)
    plan = _optimized_plan(res)
    assert plan.count("Generate explode(array(u") == 1, plan
    agg_at = plan.index("AS n_triangles")
    gen_at = plan.index("Generate explode(array(u")
    assert agg_at < gen_at and "Union" not in plan[agg_at:gen_at], (
        plan[agg_at:gen_at]
    )
    got = {r["id"]: r["n_triangles"] for r in res.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}
    release(res)
    sweep_blocks(spark)
