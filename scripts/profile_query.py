"""Per-query profile: wall time, CPU seconds and the stage layers.

The interleaved bench (bench.py) is the contract signal; this script
is the diagnostic: run ONE query N times back-to-back in a warm
session (the bench's own warmup) with nothing else in the block
manager, timing each run with ``bench.timed_pass``.

    python scripts/profile_query.py q63_neardup_lsh q68_extract_usage \
        [--sf /root/testdata/sf0.1] [--runs 5]

Prints one JSON line per query: per-run wall times (``runs``, ``min``,
``median``) and process-tree CPU seconds (``cpu_s``) — host steal
stretches the first, not the second — plus, for the LAST run,
``layers`` (``ragbench.measure.spark_layers`` over the run's jobs) and
``stages``, one row per completed stage: id, name, tasks, executor-run
seconds, shuffle read/write MB and whether it runs a Python operator.
Layers are read from the in-process status store after the run's
clock stops; no UI and no event log. ``--conf key=value``
(repeatable) A/Bs session settings through ``get_spark(extra_conf=)``
under the same protocol:

    python scripts/profile_query.py q63_neardup_lsh \
        --conf spark.sql.adaptive.advisoryPartitionSizeInBytes=1m
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stage_rows(spark, job_ids) -> list[dict]:
    """One row per completed stage of ``job_ids``, read from the same
    status store ``spark_layers`` sums over."""
    from ragbench.measure import _runs_python

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sids = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(int(jid))
        if info is not None:
            sids.update(info.stageIds)
    rows = []
    for sid in sorted(sids):
        try:
            st = store.lastStageAttempt(int(sid))
        except Exception:  # stage evicted from the status store
            continue
        if st.status().toString() != "COMPLETE":
            continue
        rows.append({
            "id": int(sid),
            "name": st.name()[:60],
            "tasks": st.numTasks(),
            "run_s": round(st.executorRunTime() / 1e3, 3),
            "shuffle_read_mb": round(st.shuffleReadBytes() / 2**20, 3),
            "shuffle_write_mb": round(st.shuffleWriteBytes() / 2**20, 3),
            "python": _runs_python(
                store.operationGraphForStage(int(sid)).rootCluster()
            ),
        })
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from bench import hash_collect, timed_pass, warm_up
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries
    from odsc_agentic_ai_summit_2025_spark.session import get_spark
    from ragbench.measure import spark_layers

    # validate BEFORE paying session startup + warmups: a typo'd name
    # must not KeyError ten seconds in (same guard as run_inventory)
    known = all_queries()
    unknown = sorted(set(args.queries) - set(known))
    if unknown:
        sys.exit(f"unknown query names: {unknown}")

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark(app_name="profile", extra_conf=extra)
    sc = spark.sparkContext
    warm_up(spark, known, args.sf)
    for name in args.queries:
        q = known[name]
        group = f"profile-{os.getpid()}-{name}"
        runs, cpu = [], []
        for r in range(args.runs):
            sc.setJobGroup(f"{group}-{r}", name)
            _, dt, rec = timed_pass(
                spark, lambda: hash_collect(q.spark(spark, args.sf))
            )
            sc._jsc.clearJobGroup()
            runs.append(round(dt, 3))
            cpu.append(rec["cpu_s"])
            sweep_blocks(spark)
        # the status store outlives the sweep: read the last run's
        # layers now, after its clock stopped
        jobs = sc.statusTracker().getJobIdsForGroup(f"{group}-{args.runs - 1}")
        out = {
            "query": name,
            "runs": runs,
            "min": min(runs),
            "median": round(statistics.median(runs), 3),
            "cpu_s": cpu,
            "layers": {
                k: round(v, 3) for k, v in spark_layers(spark, jobs).items()
            },
            "stages": stage_rows(spark, jobs),
        }
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
