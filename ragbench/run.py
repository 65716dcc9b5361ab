"""Benchmark entry point.

    python3 ragbench/run.py --workload ask --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds a local Spark session sized to
the host, generates the workload's inputs from ``--seed``, runs it and
prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries run details (per-op latencies, sample
count, tail percentile, CPU and a host-load stamp).

Untraced runs repeat whole rounds of the workload's operations until
``--seconds`` of operation time have passed. Traced runs do one round,
each operation once untraced and once traced, and report the
difference as ``trace.overhead_s``; their spans are written to
``.ragbench_work/trace-<workload>-<seed>.json``. Everything else a run
writes goes under ``.ragbench_work/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "odsc_agentic_ai_summit_2025_spark"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "llm.extract.calls_per_note": "count",
    **{f"llm.rag.{s}_s": "s" for s in (
        "input_guardrail", "prune_schema", "extract_entities",
        "graph_branch", "vector_branch", "synthesize", "output_guardrail")},
    "llm.rag.graph_branch.jobs": "count",
    "llm.rag.vector_branch.jobs": "count",
    "llm.client_s": "s",
    "llm.client.calls": "count",
    "sources.read_s": "s",
    "llm.extract_s": "s",
    "operators.graph_s": "s",
    "functions.embedder_s": "s",
    "operators.fts_s": "s",
    "operators.graph.write_s": "s",
    "operators.index_io.write_s": "s",
    "storage.written_bytes_per_input_byte": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.python_stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.gc_s": "s",
    "spark.catalyst_s": "s",
    "spark.driver_only_s": "s",
    "trace.overhead_s": "s",
}


def _env(work: str) -> None:
    """Runner environment, set before the JVM starts. PYTHONPATH must
    name the repository root: the session preloads the package in the
    Python worker daemon, which crashes every Python stage when the
    workers cannot import it."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # a quarter of the host, capped: the session default (48g) is
    # larger than many hosts
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, int(mem_gb / 4)))}g"
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to ragbench/: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".ragbench_work", f"{args.workload}-{os.getpid()}")
    _env(work)
    from ragbench import measure
    from ragbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from odsc_agentic_ai_summit_2025_spark import hostload
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    load0 = hostload.sample()
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"ragbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t
    try:
        res = WORKLOADS[args.workload](
            spark, args.seed, args.seconds, bool(args.trace), work)
        peak = measure.tree_peak_rss_mb()
        if res.trace is not None:
            res.trace.dump(os.path.join(
                os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json"))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    weather = hostload.delta(load0, hostload.sample())

    n = len(res.op_s)
    tail_p = measure.tail_percentile(n)
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER} | res.layers
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = (
            statistics.median(res.op_s) - res.info["untraced_op_p50_s"])
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {
            "setup_s": statistics.median(res.setup_s),
            "op_p50_s": statistics.median(res.op_s),
            "ops_per_s": n / res.timed_s,
            "cpu_s_per_op": res.cpu_s / n,
            "peak_rss_mb": peak,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": n, "op_s": res.op_s, "setup_reps": res.setup_s,
        "session_s": session_s,
        "tail_percentile": tail_p,
        "op_tail_s": measure.percentile(res.op_s, tail_p) if tail_p else None,
        "cpu_s": res.cpu_s, "weather": weather, "failures": res.tally.reasons,
        **res.info,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": res.tally.failed == 0,
        "attempted": res.tally.attempted,
        "failed": res.tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
