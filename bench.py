"""Benchmark the headline query inventory.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Every timed pass goes through ``timed_pass``, which records wall
seconds plus the pass's host-load window, JVM GC milliseconds and
process-tree CPU seconds (driver, JVM, Python workers). Noise
protocol: a cell flagged against the prior round (``flagged_vs_prior``)
whose CPU-seconds did not rise (``flagged_cpu_s``: this run's median
vs the committed ``BENCH_LOCAL.json`` median at the same sf and core
count) is weather — host steal stretches wall time, not the work
done. The scripts (``scripts/profile_query.py``,
``scripts/scale_smoke.py``) import the same helpers, so one protocol
times every harness.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

N_RUNS = 3
# the driver keeps only the last 2000 chars of output; the on-line
# flagged lists are capped so a global host event flagging dozens of
# cells cannot push the line past it (BENCH_LOCAL.json keeps them all)
_FLAG_CAP = 12

# Full-stage-mix warmup (r5 verdict): a tiny JVM job leaves
# whole-stage-codegen JIT, the vectorized parquet reader, shuffle
# writer/reader classes, and broadcast exchange cold, so pass 1 of the
# first timed queries measured 3-4x inflated (BENCH_r05
# queries_passes: q01 3.28/0.84/0.87). One UNTIMED run of four cheap
# queries spanning that mix — scan+hash-agg, equi-join, window,
# documents-table scan — moves the warm-once costs outside every
# timed pass.
_WARMUP_QUERIES = (
    "q01_pricing_summary",
    "q08_join_agg",
    "q03_row_number",
    "q30_token_stats",
)


def hash_collect(df) -> None:
    """Force EVERY output column to be computed: a bare count() lets
    Catalyst prune unreferenced projection expressions, so
    projection-only queries (masking, fingerprints, string batteries)
    would be timed as bare scan+count. Hashing all columns into one
    aggregated value defeats pruning while keeping driver transfer at
    one row."""
    from pyspark.sql import functions as F

    df.select(
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h")
    ).agg(F.expr("bit_xor(_h)")).collect()


def warm_up(spark, queries, sf_dir) -> None:
    """Untimed session warmup: one tiny JVM job, one tiny Arrow job
    (the Python worker daemon and its numpy/pandas preload start on
    the session's FIRST Python stage — ~4 s measured in r4 — which
    otherwise lands inside whichever query hits Python first), then
    the stage-mix queries through ``hash_collect``."""
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(
        lambda it: it, "id long"
    ).selectExpr("sum(id)").collect()
    for wname in _WARMUP_QUERIES:
        if wname in queries:
            try:
                hash_collect(queries[wname].spark(spark, sf_dir))
            except Exception:
                pass  # the timed loop surfaces any real failure
            sweep_blocks(spark)


def timed_pass(spark, fn):
    """Run ``fn()`` once; return ``(result, wall_s, rec)``. ``rec`` is
    the ``hostload.delta`` window plus ``gc_ms`` (when the JVM answers)
    and ``cpu_s``, the CPU seconds of this process tree over the pass.
    Every sample is taken outside the ``perf_counter`` window, so the
    ~2 ms ``/proc`` walk is not in ``wall_s``; an exception from
    ``fn`` propagates."""
    from odsc_agentic_ai_summit_2025_spark import hostload
    from ragbench.measure import tree_cpu_s

    ls0 = hostload.sample()
    gc0 = hostload.jvm_gc_ms(spark)
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    result = fn()
    wall_s = time.perf_counter() - t0
    cpu1 = tree_cpu_s()
    rec = hostload.delta(ls0, hostload.sample())
    gc1 = hostload.jvm_gc_ms(spark)
    if None not in (gc0, gc1):
        rec["gc_ms"] = gc1 - gc0
    rec["cpu_s"] = round(cpu1 - cpu0, 3)
    return result, wall_s, rec


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def _prior_round_queries(sf_val, cpus, root=None) -> dict[str, float]:
    """Per-query medians (short qNN keys) from the most recent
    driver-recorded ``BENCH_r<N>.json`` / ``BENCH_r<N>_c<M>.json`` AT
    THE SAME scale factor AND core count (top-level ``sf`` and
    ``cpus``) — the baseline the regression flag compares against. A
    run at another SF or core count (which also sets the default
    shuffle-partition count) has no comparable prior. Empty when none
    parses. ``root`` overrides the artifact directory (tests)."""
    import pathlib
    import re

    if root is None:
        root = pathlib.Path(__file__).resolve().parent
    root = pathlib.Path(root)
    best_n, best = -1, {}
    for p in root.glob("BENCH_r*.json"):
        m = re.fullmatch(r"BENCH_r(\d+)(?:_c\d+)?\.json", p.name)
        if not m:
            continue
        try:
            body = json.loads(p.read_text())
            qs = (body.get("parsed") or {}).get("queries") or {}
        except (OSError, ValueError):
            continue
        if (qs and body.get("sf") == sf_val and body.get("cpus") == cpus
                and int(m.group(1)) > best_n):
            best_n, best = int(m.group(1)), {
                k: v for k, v in qs.items() if isinstance(v, (int, float))
            }
    return best


def _flag_regressions(
    timings: dict[str, float], prior: dict[str, float]
) -> list[str]:
    """Cells flagged against the prior round: >25% AND >0.5 s over
    its same-SF median, ordered largest absolute regression first
    (the contract line keeps only the first ``_FLAG_CAP``, which must
    be the worst offenders, not the alphabetically-first names)."""
    flagged = []
    for name, med in sorted(timings.items()):
        # `is not None`, NOT truthiness (ADVICE r10): a prior median
        # recorded as 0.0 (contract line rounds to 2 dp — any <5 ms
        # query) must still be comparable, else it can never flag
        p = prior.get(name.split("_", 1)[0])
        if p is None or med != med:
            continue
        if med > 1.25 * p and med - p > 0.5:
            flagged.append(name)
    flagged.sort(
        key=lambda n: timings[n] - prior[n.split("_", 1)[0]], reverse=True
    )
    return flagged


def _cpu_medians(loads: dict[str, list[dict]]) -> dict[str, float]:
    """Median per-pass ``cpu_s`` per query; a query whose records
    carry no ``cpu_s`` is absent."""
    out = {}
    for name, recs in loads.items():
        cpu = [r["cpu_s"] for r in recs if r.get("cpu_s") is not None]
        if cpu:
            out[name] = round(statistics.median(cpu), 2)
    return out


def _prior_cpu_s(sf_val, cpus, root=None) -> dict[str, float]:
    """Per-query median CPU seconds from the committed
    BENCH_LOCAL.json at the same scale factor and core count; empty
    when it is missing, unparsable, at another sf or ``cpus`` (or
    records none), or predates ``cpu_s``. ``root`` overrides the
    artifact directory (tests)."""
    import pathlib

    if root is None:
        root = pathlib.Path(__file__).resolve().parent
    try:
        detail = json.loads((pathlib.Path(root) / "BENCH_LOCAL.json").read_text())
    except (OSError, ValueError):
        return {}
    if detail.get("sf") != sf_val or detail.get("cpus") != cpus:
        return {}
    return _cpu_medians(detail.get("queries_load") or {})


def _contract_line(timings, sf_val, loads, flagged, cpu_now, cpu_prior) -> str:
    """The stdout contract line. The driver captures only the LAST
    2000 chars of output and parses the final JSON line from it; round
    2's full-name 71-query line was ~2.1 KB and lost its front to the
    buffer (BENCH_r02: parsed=null). So keys are short ``qNN`` names
    (the driver's own contract example uses "q1"), never-succeeded
    queries are null (NaN is invalid strict JSON), per-pass load
    records stay in BENCH_LOCAL.json with only the worst window here,
    and the flagged lists are capped at ``_FLAG_CAP``."""
    short = {_short(name): v for name, v in timings.items()}
    # a reused qNN prefix would silently drop a timing from the
    # contract line while `value` still sums both medians
    assert len(short) == len(timings), "duplicate qNN short keys"
    line = {
        "metric": "inventory_total_runtime",
        "value": round(sum(v for v in timings.values() if v == v), 2),
        "unit": "sec",
        "queries": {
            k: round(v, 2) if v == v else None
            for k, v in sorted(short.items())
        },
        "sf": sf_val,
    }
    all_loads = [rec for recs in loads.values() for rec in recs]
    if all_loads:
        line["load"] = {
            "la1_max": max(r.get("la1", 0.0) or 0.0 for r in all_loads),
            "steal_pct_max": max(
                r.get("steal_pct", 0.0) or 0.0 for r in all_loads
            ),
        }
    if flagged:
        head = flagged[:_FLAG_CAP]
        line["flagged_vs_prior"] = [_short(n) for n in head]
        if len(flagged) > _FLAG_CAP:
            line["flagged_overflow"] = len(flagged) - _FLAG_CAP
        line["flagged_cpu_s"] = {
            _short(n): [cpu_now.get(n), cpu_prior.get(n)] for n in head
        }
    return json.dumps(line, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism
    # read before this run can overwrite it (SPARK_GRAFT_BENCH_COMMIT=1)
    cpu_prior = _prior_cpu_s(sf_val, cpus)
    queries = all_queries()
    warm_up(spark, queries, sf_dir)
    passes: dict[str, list[float]] = {}
    # per-(query, pass) timed_pass records: host-load window, gc_ms
    # and cpu_s, so a noise adjudication cites the recorded window
    # instead of reconstructing it from spreads after the fact
    loads: dict[str, list[dict]] = {}
    # N interleaved runs per query: this host shows hypervisor
    # steal-time spikes (single-shot timings varied 1.8s..39s for the
    # SAME query, r3). Full PASSES are interleaved (pass 1 over all
    # queries, then pass 2) rather than per-query back-to-back
    # repeats: the steal bursts last tens of seconds, so adjacent
    # repeats of one query land in the SAME burst (observed: both q75
    # repeats measured 21.6 s during one burst, isolated baseline
    # 2 s). Minutes apart, the bursts decorrelate.
    # The contract line reports the MEDIAN across passes — a time
    # that an actual run achieved (damped against one burst) without
    # the systematic downward bias of min-of-N that round-3 used;
    # the min and the raw per-pass list live in BENCH_LOCAL.json.
    for _ in range(N_RUNS):
        for name, q in sorted(queries.items()):
            try:
                _, dt, rec = timed_pass(
                    spark, lambda: hash_collect(q.spark(spark, sf_dir))
                )
            except Exception as e:  # keep benching even if one breaks
                print(f"bench error {name}: {e}", file=sys.stderr)
            else:
                passes.setdefault(name, []).append(round(dt, 4))
                loads.setdefault(name, []).append(rec)
            # release intermediates an operator persisted for its own
            # multi-consumer plan (FTS/IVF indexes, LSH inputs):
            # without this, 60 queries of leftovers accumulate in
            # executor memory and late queries pay GC for early
            # queries' caches — measured 2-5x inflation on late
            # queries (q36 8.8s in-suite vs 1.6s isolated, r3)
            sweep_blocks(spark)
            # NO System.gc here, deliberately (r8): scale_smoke levels
            # the heap between its 10-100 s stages because the
            # ContextCleaner residue there caused 2-5x spreads, but a
            # full GC taxes the NEXT query a durable ~0.35 s (measured
            # A/B on q01: 0.73 -> 1.05+, not absorbed by an untimed
            # job) — across ~70 sub-second queries that is +15-20 s of
            # pure protocol cost on the suite total. Bench's per-query
            # sweeps + interleaved passes never showed the residue
            # anomaly; the per-pass gc_ms recorded above is the
            # evidence either way.

    timings: dict[str, float] = {}
    for name in queries:
        # a query that errored on every pass still appears (as null)
        # instead of silently vanishing from the report
        runs = passes.get(name, [])
        timings[name] = (
            round(statistics.median(runs), 4) if runs else float("nan")
        )
    flagged = _flag_regressions(timings, _prior_round_queries(sf_val, cpus))
    line = _contract_line(
        timings, sf_val, loads, flagged, _cpu_medians(loads), cpu_prior
    )
    detail = {
        "metric": "inventory_total_runtime",
        "value": round(sum(v for v in timings.values() if v == v), 4),
        "unit": "sec",
        "timing": "median_of_passes",
        "runs_per_query": N_RUNS,
        "queries": {k: v if v == v else None for k, v in timings.items()},
        "queries_min": {
            k: (min(v) if v else None) for k, v in sorted(passes.items())
        },
        "queries_passes": {k: v for k, v in sorted(passes.items())},
        "queries_load": {k: v for k, v in sorted(loads.items())},
        "flagged_vs_prior": flagged,
        "sf": sf_val,
        "cpus": cpus,
    }
    try:
        import pathlib

        # Externally-triggered runs (the per-round driver bench) land in
        # BENCH_LOCAL.latest.json, which is gitignored — so a driver run
        # after the round's final commit no longer dirties the tree and
        # the committed BENCH_LOCAL.json is unambiguously what the
        # builder measured at freeze (VERDICT r11 "What's wrong" #2).
        # Builder runs set SPARK_GRAFT_BENCH_COMMIT=1 to write the
        # canonical file.
        name = (
            "BENCH_LOCAL.json"
            if os.environ.get("SPARK_GRAFT_BENCH_COMMIT", "0") == "1"
            else "BENCH_LOCAL.latest.json"
        )
        out = pathlib.Path(__file__).resolve().parent / name
        out.write_text(json.dumps(detail, indent=1))
        if name != "BENCH_LOCAL.json":
            # ADVICE r12: a forgotten env var at freeze silently ships
            # a stale canonical artifact — make the non-canonical path
            # impossible to miss (stderr: the stdout contract is ONE
            # JSON line)
            print(
                "bench: non-canonical run wrote BENCH_LOCAL.latest.json; "
                "set SPARK_GRAFT_BENCH_COMMIT=1 to update BENCH_LOCAL.json",
                file=sys.stderr,
            )
    except OSError:
        pass  # read-only checkout: stdout line is the contract
    print(line)


if __name__ == "__main__":
    main()
