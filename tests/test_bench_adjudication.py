"""The bench's regression evidence — pure-Python units over bench.py's
baseline discovery, flag logic, contract line and timed pass, so the
behavior the driver's BENCH artifact depends on is pinned by the
suite, not only by full bench runs."""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, ".")

import bench


def _write(root, name, sf, queries, parsed=True, cpus=32):
    body = {"cpus": cpus, "sf": sf}
    if parsed:
        body["parsed"] = {"sf": sf, "queries": queries}
    (root / name).write_text(json.dumps(body))


def test_prior_round_picks_latest_at_same_sf(tmp_path):
    _write(tmp_path, "BENCH_r08.json", 0.1, {"q01": 1.0, "q02": 2.0})
    _write(tmp_path, "BENCH_r09.json", 0.1, {"q01": 1.5})
    # a later round at a DIFFERENT sf must not shadow the 0.1 baseline
    _write(tmp_path, "BENCH_r11.json", 0.01, {"q01": 0.2})
    got = bench._prior_round_queries(0.1, 32, root=tmp_path)
    assert got == {"q01": 1.5}
    assert bench._prior_round_queries(0.01, 32, root=tmp_path) == {"q01": 0.2}
    # no baseline at an unmeasured sf → empty → nothing can flag
    assert bench._prior_round_queries(0.001, 32, root=tmp_path) == {}


def test_prior_round_skips_unparsed_and_nulls(tmp_path):
    _write(tmp_path, "BENCH_r09.json", 0.1, {}, parsed=False)
    _write(
        tmp_path, "BENCH_r08.json", 0.1, {"q01": 1.0, "q02": None}
    )
    got = bench._prior_round_queries(0.1, 32, root=tmp_path)
    # the unparsed r09 falls through to r08; null cells are dropped
    assert got == {"q01": 1.0}
    (tmp_path / "BENCH_r07.json").write_text("not json")
    assert bench._prior_round_queries(0.1, 32, root=tmp_path) == {"q01": 1.0}


def test_prior_round_matches_core_count(tmp_path):
    """A later round at another core count must not shadow this
    count's baseline, and ``_c<M>`` files are read."""
    _write(tmp_path, "BENCH_r13_c8.json", 0.1, {"q01": 3.0}, cpus=8)
    _write(tmp_path, "BENCH_r14.json", 0.1, {"q01": 1.0})
    _write(tmp_path, "BENCH_r15_c8.json", 0.1, {"q01": 2.0}, cpus=8)
    assert bench._prior_round_queries(0.1, 32, root=tmp_path) == {"q01": 1.0}
    assert bench._prior_round_queries(0.1, 8, root=tmp_path) == {"q01": 2.0}
    assert bench._prior_round_queries(0.1, 4, root=tmp_path) == {}


def test_prior_round_committed_artifacts_by_core_count():
    """On the committed BENCH_r*.json: 8 cores pick BENCH_r14_c8, 32
    cores BENCH_r14, and 4 cores (never driver-benched) nothing."""
    def medians(name):
        path = pathlib.Path(bench.__file__).resolve().parent / name
        qs = json.loads(path.read_text())["parsed"]["queries"]
        return {k: v for k, v in qs.items() if isinstance(v, (int, float))}

    c8, c32 = medians("BENCH_r14_c8.json"), medians("BENCH_r14.json")
    assert c8 != c32
    assert bench._prior_round_queries(0.1, 8) == c8
    assert bench._prior_round_queries(0.1, 32) == c32
    assert bench._prior_round_queries(0.1, 4) == {}


def test_flag_rule_and_ordering():
    """bench._flag_regressions: >25% AND >0.5 s over prior;
    adjudication order = largest absolute regression first; NaN
    (all-passes-errored) and no-prior cells can never flag."""
    prior = {"q01": 1.0, "q02": 4.0, "q03": 0.2, "q04": 10.0, "q06": 1.0}
    timings = {
        "q01_a": 1.3,           # +0.3 s: fails the absolute bar
        "q02_b": 5.2,           # +1.2 s, 1.3x: flags
        "q03_c": 0.9,           # +0.7 s, 4.5x: flags
        "q04_d": 11.0,          # 1.1x: fails the ratio bar
        "q05_e": 9.9,           # no prior: cannot flag
        "q06_f": float("nan"),  # errored every pass: cannot flag
    }
    assert bench._flag_regressions(timings, prior) == ["q02_b", "q03_c"]
    assert bench._flag_regressions({}, prior) == []
    assert bench._flag_regressions(timings, {}) == []


def test_flag_order_is_magnitude_not_alphabetical():
    """VERDICT r12 #4: the [:8] adjudication cap consumes `flagged`
    head-first, so the ordering must put the LARGEST absolute
    regression first — here the alphabetical order (q01, q02, q03) is
    exactly inverse to the magnitude order, so a sort regression to
    name order cannot pass."""
    prior = {"q01": 1.0, "q02": 1.0, "q03": 1.0}
    timings = {"q01_a": 2.0, "q02_b": 3.0, "q03_c": 4.0}
    assert bench._flag_regressions(timings, prior) == [
        "q03_c", "q02_b", "q01_a"
    ]


def test_flag_rule_zero_prior_can_flag():
    """ADVICE r10: a prior median recorded as 0.0 (contract line
    rounds to 2 dp, i.e. any <5 ms query) must still be comparable —
    the old walrus-truthiness skipped it no matter how badly the
    query regressed."""
    assert bench._flag_regressions({"q07_fast": 0.9}, {"q07": 0.0}) == [
        "q07_fast"
    ]


def test_prior_cpu_s_reads_committed_detail_at_same_sf(tmp_path):
    assert bench._prior_cpu_s(0.1, 8, root=tmp_path) == {}
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps({
        "sf": 0.1,
        "cpus": 8,
        "queries_load": {
            "q01_a": [{"cpu_s": 1.0}, {"cpu_s": 3.0}, {"cpu_s": 2.0}],
            # recorded before cpu_s existed: no prior
            "q02_b": [{"la1": 0.5}],
        },
    }))
    assert bench._prior_cpu_s(0.1, 8, root=tmp_path) == {"q01_a": 2.0}
    assert bench._prior_cpu_s(0.01, 8, root=tmp_path) == {}
    # another core count has no comparable CPU-seconds
    assert bench._prior_cpu_s(0.1, 4, root=tmp_path) == {}


def test_prior_cpu_s_needs_recorded_core_count(tmp_path):
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps({
        "sf": 0.1,
        "queries_load": {"q01_a": [{"cpu_s": 1.0}]},
    }))
    assert bench._prior_cpu_s(0.1, 4, root=tmp_path) == {}


def _strict_json(s):
    def reject(c):
        raise ValueError(f"non-strict JSON constant {c}")

    return json.loads(s, parse_constant=reject)


def test_contract_line_worst_case_fits_driver_buffer():
    """The driver parses the final JSON line out of the LAST 2000
    chars of output (BENCH_r02: parsed=null when the line outgrew
    it). Worst case: 110 cells with 6-char values, one never
    succeeded, more flagged cells than the on-line cap, every capped
    cell with a CPU-seconds pair, and the load summary."""
    names = [f"q{i:02d}_query_name" for i in range(1, 111)]
    timings = {n: 123.45 for n in names}
    timings[names[4]] = float("nan")
    flagged = [n for n in names if n != names[4]][:20]
    cpu = {n: 123.45 for n in flagged}
    prior = dict(cpu)
    del prior[flagged[3]]  # no committed prior for this cell yet
    loads = {names[0]: [{"la1": 12.34, "steal_pct": 100.0, "cpu_s": 1.0}]}
    s = bench._contract_line(timings, 0.1, loads, flagged, cpu, prior)
    assert len(s) < 2000, len(s)
    line = _strict_json(s)
    assert len(line["queries"]) == 110
    assert line["queries"]["q05"] is None
    assert line["flagged_vs_prior"] == [n[:3] for n in flagged[:12]]
    assert line["flagged_overflow"] == 8
    assert list(line["flagged_cpu_s"]) == line["flagged_vs_prior"]
    assert line["flagged_cpu_s"]["q04"] == [123.45, None]
    assert line["load"] == {"la1_max": 12.34, "steal_pct_max": 100.0}
    assert not any(k.startswith("adjudicat") for k in line)


def test_contract_line_without_flags_has_no_flag_keys():
    line = _strict_json(bench._contract_line(
        {"q01_a": 1.234, "q02_b": 2.0}, 0.1, {}, [], {}, {}
    ))
    assert line == {
        "metric": "inventory_total_runtime", "value": 3.23, "unit": "sec",
        "queries": {"q01": 1.23, "q02": 2.0}, "sf": 0.1,
    }


def test_timed_pass_counts_cpu_not_sleep():
    """Process-tree CPU seconds move with the work done, not with
    wall time: a 0.3 s busy loop reads as CPU, a 1 s sleep does not.
    spark=None: the JVM GC sample answers None and is left out."""
    def burn():
        t = time.process_time()
        while time.process_time() - t < 0.3:
            pass
        return "done"

    result, _, rec = bench.timed_pass(None, burn)
    assert result == "done"
    assert rec["cpu_s"] >= 0.2
    assert "gc_ms" not in rec and "steal_pct" in rec
    _, wall_s, rec = bench.timed_pass(None, lambda: time.sleep(1.0))
    assert wall_s >= 1.0
    assert rec["cpu_s"] < 0.5
