"""Measurement helpers: statistics, spans, output checks, process
metrics and the Spark layer readout.

The pure helpers at the top carry no Spark or OS dependency and are
covered by ``test_ragbench.py``. Everything reads the engine from the
outside: job groups, the in-process status store (it works with
``spark.ui.enabled=false``), ``QueryExecution.tracker()`` phases of
frames the benchmark holds, and ``/proc`` for the process tree.
"""

from __future__ import annotations

import math
import os
import re
import time
from dataclasses import dataclass, field

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

# percentiles a tail may be reported at, highest first
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def valid_metric_name(name: str) -> bool:
    """Letters, digits, ``_``, ``.`` and ``-``; starts with a letter or
    digit; at most 64 characters."""
    return bool(_NAME_RE.match(name))


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ten samples beyond
    it among ``n``; None when even the median has fewer."""
    for p in _TAIL_CANDIDATES:
        if n - math.ceil(n * p / 100.0) >= 10:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p% of n))."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # seconds, time.perf_counter clock
    end: float
    parent: int | None = None  # index into the span list
    op: int | None = None  # operation (ask / ingest run) the span belongs to


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return [
        (s.end - s.start) - union_length([
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(i, ()) if min(c.end, s.end) > max(c.start, s.start)
        ])
        for i, s in enumerate(spans)
    ]


class Recorder:
    """In-memory span recorder; nothing is written until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def span(self, name: str):
        rec = self

        class _Ctx:
            def __enter__(self):
                rec.spans.append(Span(
                    name, time.perf_counter(), math.nan,
                    rec._stack[-1] if rec._stack else None, rec.op,
                ))
                rec._stack.append(len(rec.spans) - 1)

            def __exit__(self, *exc):
                rec.spans[rec._stack.pop()].end = time.perf_counter()

        return _Ctx()

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            out[s.name] = out.get(s.name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


# -- output checks ---------------------------------------------------------


def answer_values(answer: str) -> list[str]:
    """The mock synthesizer renders graph rows as ``v, v; v, v``."""
    return [v.strip() for v in re.split(r";|,", answer) if v.strip()]


def answer_ok(answer: str, expected: tuple[str, ...]) -> bool:
    """Every expected value is one of the answer's values, any
    number-word variant accepted (the golden-QA membership rule)."""
    from odsc_agentic_ai_summit_2025_spark.functions.text import number_variants

    got = answer_values(answer)
    return all(any(v in got for v in number_variants(e)) for e in expected)


@dataclass
class Tally:
    """Attempted and failed operations; a wrong result, a mismatch or
    an exception is a failure, never a skip."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok


# -- process tree ----------------------------------------------------------


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime in seconds)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def _tree() -> dict[int, tuple[int, float]]:
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    keep, changed = {os.getpid()}, True
    while changed:
        changed = False
        for pid, (ppid, _) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {pid: stats[pid] for pid in keep if pid in stats}


def tree_cpu_s() -> float:
    """CPU seconds of this process and all descendants (the driver
    JVM, the Python daemon and its forked workers), reaped children
    included."""
    return sum(cpu for _, cpu in _tree().values())


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


# -- Spark layer readout ---------------------------------------------------


def job_times(spark, job_ids) -> dict[int, tuple[float, float]]:
    """job id -> (submission, completion) in epoch seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for jid in job_ids:
        try:
            jd = store.job(int(jid))
        except Exception:
            continue
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined():
            end = comp.get().getTime() if comp.isDefined() else sub.get().getTime()
            out[int(jid)] = (sub.get().getTime() / 1000.0, end / 1000.0)
    return out


_PYTHON_OP = re.compile(r"Python|InPandas|InArrow")


def _runs_python(cluster) -> bool:
    """Whether a stage's RDD operation graph holds a Python operator
    (MapInPandas, ArrowEvalPython, PythonRDD, ...)."""
    it = cluster.childNodes().iterator()
    while it.hasNext():
        if _PYTHON_OP.search(it.next().name()):
            return True
    it = cluster.childClusters().iterator()
    while it.hasNext():
        c = it.next()
        if _PYTHON_OP.search(c.name()) or _runs_python(c):
            return True
    return False


def spark_layers(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks, Python stages, executor run/CPU time,
    shuffle and GC summed over the completed stages of ``job_ids``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "python_stages", "executor_run_s",
         "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "gc_s"),
        0.0,
    )
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(int(jid))
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["gc_s"] += st.jvmGcTime() / 1e3
            if _runs_python(store.operationGraphForStage(int(sid)).rootCluster()):
                out["python_stages"] += 1
    return out


def catalyst_s(df) -> float:
    """Analysis + optimization + planning seconds recorded by the
    frame's own QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        s = it.next()
        total += s.endTimeMs() - s.startTimeMs()
    return total / 1e3


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
