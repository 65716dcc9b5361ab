"""Isolated quiet-window profiling for single inventory queries.

The interleaved bench (bench.py) is the contract signal; this script
is the diagnostic: run ONE query N times back-to-back in a fresh
session with nothing else in the block manager, so a regression can
be attributed to the plan instead of to hypervisor steal bursts.

    python scripts/profile_query.py q63_neardup_lsh q68_extract_usage \
        [--sf /root/testdata/sf0.1] [--runs 5]

Prints per-run wall times + min/median per query as JSON lines.
``--conf key=value`` (repeatable) A/Bs session settings through
``get_spark(extra_conf=)`` under the same protocol:

    python scripts/profile_query.py q63_neardup_lsh \
        --conf spark.sql.adaptive.advisoryPartitionSizeInBytes=1m
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    # validate BEFORE paying session startup + warmups: a typo'd name
    # must not KeyError ten seconds in (same guard as run_inventory)
    known = all_queries()
    unknown = sorted(set(args.queries) - set(known))
    if unknown:
        sys.exit(f"unknown query names: {unknown}")

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark(app_name="profile", extra_conf=extra)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup
    # Arrow warmup: the python worker daemon starts on the first
    # Python stage (~4 s) — keep it out of run 1's timing
    spark.range(64).mapInPandas(lambda it: it, "id long").selectExpr(
        "sum(id)"
    ).collect()
    registry = known
    from pyspark.sql import functions as F

    for name in args.queries:
        q = registry[name]
        runs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = q.spark(spark, args.sf)
            df.select(
                F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h")
            ).agg(F.expr("bit_xor(_h)")).collect()
            runs.append(round(time.perf_counter() - t0, 3))
            df = None  # drop the plan ref before the sweep's GC
            from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks

            sweep_blocks(spark)
        print(
            json.dumps(
                {
                    "query": name,
                    "runs": runs,
                    "min": min(runs),
                    "median": round(statistics.median(runs), 3),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
