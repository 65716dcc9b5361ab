"""The benchmark's workloads: ``ask`` (serving) and ``ingest`` (batch
build). Each returns a :class:`Result`; ``run.py`` turns it into the
metrics line.

Untraced runs time only public calls. Traced runs add, around the same
calls, a job group per operation, a counting extraction-client factory,
a timing RAG client and a ``spark.sql`` wrapper that keeps the frames it
returns, then read the layers from the status store once timing ends.
"""

from __future__ import annotations

import functools
import os
import random
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from . import fhirgen
from .measure import (
    Recorder, Span, Tally, answer_ok, catalyst_s, dir_bytes, job_times,
    self_times, spark_layers, tree_cpu_s, union_length,
)

# Sizes are set by the run budget (every run, Spark start-up included,
# in about a minute on 4 cores): an ask costs ~20 Spark jobs whatever
# the corpus size, and one full build ~30 s, mostly fixed cost.
ASK_NOTES = 400
INGEST_NOTES = 600
WARMUP_NOTES = 50
SETUP_REPS = 5
ASK_SETUP_REPS = 2
# the golden questions one ask cycle covers (0-based): the three of
# similar cost with distinct graph-query shapes (3-table join list,
# group-by argmax, edge-node count-distinct), so the cycle median is
# not decided by the question order
ASK_MIX = (1, 6, 9)
# every ask setup warms up with the same question, so set-up time does
# not depend on the seed's question order
WARMUP_QUESTION = 3
RAG_STEPS = ("input_guardrail", "prune_schema", "extract_entities",
             "graph_branch", "vector_branch", "synthesize", "output_guardrail")
STAGES = ("sources.read", "llm.extract", "operators.graph", "functions.embedder",
          "operators.fts", "operators.graph.write", "operators.index_io.write")
GRAPH_TABLES = ("patient", "address", "practitioner", "substance", "allergy",
                "immunization", "lives_in", "treats", "experiences",
                "causes", "has_immunization")


@dataclass
class Result:
    setup_s: list[float]
    op_s: list[float]  # latency of each timed operation
    timed_s: float  # wall time of the timed section
    cpu_s: float  # process-tree CPU over the timed section
    tally: Tally
    layers: dict[str, float] = field(default_factory=dict)  # traced runs
    info: dict = field(default_factory=dict)
    trace: Recorder | None = None  # traced runs: spans to write out


# -- counting / timing wrappers (traced runs only) --------------------------


class CountingFactory:
    """Zero-arg extraction-client factory that counts every client call
    into a Spark accumulator; it ships to the executors by pickle."""

    def __init__(self, acc) -> None:
        self.acc = acc

    def __call__(self):
        from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient

        return _Counting(MockLLMClient(), self.acc)


class _Counting:
    def __init__(self, inner, acc) -> None:
        self._inner, self._acc = inner, acc

    def __getattr__(self, name):
        fn = getattr(self._inner, name)

        def call(*a, **kw):
            self._acc.add(1)
            return fn(*a, **kw)

        return call


class TimingClient:
    """Driver-side RAG client wrapper: call count and seconds inside."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self.calls = 0
        self.seconds = 0.0

    def __getattr__(self, name):
        fn = getattr(self._inner, name)

        def call(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1

        return call


class _Trace:
    """Per-operation job groups plus the layer readout for one run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.rec = Recorder()
        self.groups: list[str] = []
        self.held: list = []  # frames whose Catalyst phases are read
        self.acc = spark.sparkContext.accumulator(0)
        # perf_counter -> epoch seconds, to line spans up with job times
        self.epoch = time.time() - time.perf_counter()

    def begin_op(self) -> None:
        self.rec.op = len(self.groups)
        self.groups.append(f"ragbench-{os.getpid()}-{self.rec.op}")
        self.spark.sparkContext.setJobGroup(self.groups[-1], "ragbench op")

    def end_op(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()

    def jobs(self) -> list[int]:
        st = self.spark.sparkContext.statusTracker()
        return [j for g in self.groups for j in st.getJobIdsForGroup(g)]

    def layers(self, n_ops: int, op_windows: list[tuple[float, float]]) -> dict:
        jobs = self.jobs()
        times = job_times(self.spark, jobs)
        out = {f"spark.{k}": v / n_ops
               for k, v in spark_layers(self.spark, jobs).items()}
        # driver-only: op wall time not covered by any of its jobs
        only = 0.0
        for s, e in op_windows:
            s, e = s + self.epoch, e + self.epoch
            inside = [(max(a, s), min(b, e)) for a, b in times.values()
                      if b > s and a < e]
            only += (e - s) - union_length(inside)
        out["spark.driver_only_s"] = only / n_ops
        out["spark.catalyst_s"] = sum(catalyst_s(df) for df in self.held) / n_ops
        self.job_windows = times
        return out

    def jobs_in(self, start: float, end: float) -> int:
        s, e = start + self.epoch, end + self.epoch
        return sum(1 for a, _ in self.job_windows.values() if s <= a <= e)


def _write_notes(spark, notes, path: str):
    spark.createDataFrame(notes, "record_id long, note string").coalesce(1) \
        .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _measure(ops, seconds: float, tally: Tally, tr: _Trace | None = None):
    """Whole rounds of ``ops`` until their summed latency reaches
    ``seconds``. Each op returns a check; only the op is timed (wall
    and process-tree CPU), the check runs after the clock stops, and
    an exception in either is a failure, never a skip."""
    lat, windows, cpu = [], [], 0.0
    while not lat or sum(lat) < seconds:
        for op in ops:
            if tr:
                tr.begin_op()
            c, t = tree_cpu_s(), time.perf_counter()
            try:
                with tr.rec.span("op") if tr else nullcontext():
                    check = op()
            except Exception as e:
                check = lambda e=e: (False, f"raised {e!r}"[:200])
            t1 = time.perf_counter()
            if tr:
                tr.end_op()
            cpu += tree_cpu_s() - c
            lat.append(t1 - t)
            windows.append((t, t1))
            try:
                ok, why = check()
            except Exception as e:
                ok, why = False, f"check raised {e!r}"[:200]
            tally.record(ok, why)
    return lat, windows, cpu


def _interleaved(plain, traced, tally: Tally, tr: _Trace, hooks=nullcontext):
    """Traced runs: one round, each op run untraced and traced (inside
    ``hooks``), the side that goes first alternating, so the overhead
    estimate (traced minus untraced median) sees the same warm-up."""
    base, lat, windows, cpu = [], [], [], 0.0
    for i, (p, t) in enumerate(zip(plain, traced)):
        for side in ("plain", "traced") if i % 2 == 0 else ("traced", "plain"):
            if side == "plain":
                base += _measure([p], 0, tally)[0]
                continue
            with hooks():
                ln, wn, c = _measure([t], 0, tally, tr)
            lat += ln
            windows += wn
            cpu += c
    return base, lat, windows, cpu


def _result(setup, lat, cpu, tally, info, base=None) -> Result:
    info = dict(info)
    if base is not None:
        info["untraced_op_p50_s"] = statistics.median(base)
    return Result(setup, lat, sum(lat), cpu, tally, info=info)


# -- ask ------------------------------------------------------------------------


def run_ask(spark, seed: int, seconds: float, trace: bool, work: str) -> Result:
    """Closed loop, one client: whole cycles over ``ASK_MIX`` in a
    seeded order until ``seconds`` of asking have passed."""
    from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline

    notes, records = fhirgen.generate(ASK_NOTES, seed)
    golden = fhirgen.Graph(records).golden()
    order = list(ASK_MIX)
    random.Random(seed).shuffle(order)
    notes_df = _write_notes(spark, notes, f"{work}/notes")
    tally = Tally()
    tr = _Trace(spark) if trace else None
    client = TimingClient(MockLLMClient()) if trace else None
    factory = CountingFactory(tr.acc) if trace else None

    setup, pipe = [], None
    for _ in range(ASK_SETUP_REPS):
        spark.catalog.clearCache()
        t = time.perf_counter()
        pipe = build_rag_pipeline(spark, notes_df, client=client,
                                  client_factory=factory)
        q, exp = golden[WARMUP_QUESTION]
        ans = pipe.rag.ask(q).final_answer
        setup.append(time.perf_counter() - t)
        tally.record(answer_ok(ans, exp), f"warm-up answered {ans!r}")

    def asker(qi):
        def op():
            q, exp = golden[qi]
            ans = pipe.rag.ask(q).final_answer
            return lambda: (answer_ok(ans, exp), f"Q{qi + 1} answered {ans[:120]!r}")
        return op

    ops = [asker(qi) for qi in order]
    info = {"notes": ASK_NOTES, "order": [q + 1 for q in order]}
    if not trace:
        lat, _, cpu = _measure(ops, seconds, tally)
        return _result(setup, lat, cpu, tally, info)

    sql = spark.sql

    def held_sql(text, *a, **kw):
        df = sql(text, *a, **kw)
        tr.held.append(df)
        return df

    @contextmanager
    def hold_sql():
        spark.sql = held_sql
        try:
            yield
        finally:
            spark.sql = sql

    acc0, calls0, secs0 = tr.acc.value, client.calls, client.seconds
    span0 = len(pipe.tracer.spans)
    base, lat, windows, cpu = _interleaved(ops, ops, tally, tr, hold_sql)
    res = _result(setup, lat, cpu, tally, info, base)
    res.trace = tr.rec
    n = len(lat)
    res.layers = tr.layers(n, windows)
    # the wrappers count on untraced asks too: per ask over all of them
    n_all = n + len(base)
    res.layers["llm.extract.calls_per_note"] = (tr.acc.value - acc0) / ASK_NOTES / n_all
    res.layers["llm.client.calls"] = (client.calls - calls0) / n_all
    res.layers["llm.client_s"] = (client.seconds - secs0) / n_all
    spans = [s for s in pipe.tracer.spans[span0:]
             if any(a <= s.start_s <= b for a, b in windows)]
    _rag_spans(res.layers, spans, tr, n)
    return res


def _rag_spans(layers: dict, spans, tr: _Trace, n: int) -> None:
    """Self time per RAG step from the pipeline's SpanTracer, and the
    Spark jobs submitted inside the two branch spans. The spans join the
    run's recorder: each ask under its benchmark op span, each step
    under its ask."""
    mine = [Span(f"llm.rag.{s.name}", s.start_s, s.start_s + s.duration_ms / 1e3)
            for s in spans]
    base = len(tr.rec.spans)
    ops = [(i - base, o) for i, o in enumerate(tr.rec.spans) if o.name == "op"]
    asks = [(j, s) for j, s in enumerate(mine) if s.name == "llm.rag.ask"]
    for s in sorted(mine, key=lambda s: s.name != "llm.rag.ask"):
        for idx, p in ops if s.name == "llm.rag.ask" else asks:
            if p is not s and p.start <= s.start and s.end <= p.end:
                s.parent, s.op = idx, p.op
                break
    for s, t in zip(mine, self_times(mine)):
        step = s.name.removeprefix("llm.rag.")
        if step in RAG_STEPS:
            layers[f"{s.name}_s"] = layers.get(f"{s.name}_s", 0.0) + t / n
            if step in ("graph_branch", "vector_branch"):
                key = f"{s.name}.jobs"
                layers[key] = layers.get(key, 0.0) + tr.jobs_in(s.start, s.end) / n
    for s in mine:
        if s.parent is not None:
            s.parent += base
        tr.rec.spans.append(s)


# -- ingest ---------------------------------------------------------------------


def _hash_collect(df):
    """Materialize every column of a frame the benchmark holds: an
    xxhash64 ``bit_xor`` over all columns, collected."""
    from pyspark.sql import functions as F

    h = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.expr("bit_xor(_h)"))
    h.collect()
    return h


def _ingest_once(spark, src: str, out: str, factory=None) -> object:
    """Notes on disk -> pipeline -> 11 graph tables, note vectors and
    FTS index materialized and persisted under ``out``."""
    from odsc_agentic_ai_summit_2025_spark.operators.graph import write_graph
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import save_fts_index
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline

    notes = spark.read.parquet(src)
    pipe = build_rag_pipeline(spark, notes, client_factory=factory, meter=False)
    write_graph(pipe.graph, f"{out}/graph", database="ragbench")
    save_fts_index(pipe.rag.fts_index, f"{out}/fts")
    pipe.rag.notes.write.mode("overwrite").parquet(f"{out}/vectors")
    return pipe


def _ingest_staged(spark, src: str, out: str, tr: _Trace) -> None:
    """The same build, one public stage at a time, each materialized on
    its own inside its own span."""
    from odsc_agentic_ai_summit_2025_spark.functions.embedder import embed
    from odsc_agentic_ai_summit_2025_spark.llm.extract import guarded_extract_fhir
    from odsc_agentic_ai_summit_2025_spark.operators import fts
    from odsc_agentic_ai_summit_2025_spark.operators.graph import (
        build_graph, write_graph)
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import save_fts_index

    span, held = tr.rec.span, tr.held
    with span("sources.read"):
        notes = spark.read.parquet(src).cache()
        held.append(_hash_collect(notes))
    with span("llm.extract"):
        ex = guarded_extract_fhir(notes).cache()
        held.append(_hash_collect(ex))
    with span("operators.graph"):
        g = build_graph(ex)
        for name in GRAPH_TABLES:
            held.append(_hash_collect(getattr(g, name).cache()))
    with span("functions.embedder"):
        vec = embed(notes.selectExpr("record_id", "note"), "note").cache()
        held.append(_hash_collect(vec))
    with span("operators.fts"):
        idx = fts.build_fts_index(vec, "note", "record_id", cache=True,
                                  tokenizer=fts.normalized_tokens)
        held.append(_hash_collect(idx.postings))
    with span("operators.graph.write"):
        write_graph(g, f"{out}/graph", database="ragbench")
    with span("operators.index_io.write"):
        save_fts_index(idx, f"{out}/fts")


def _check_ingest(spark, out: str, n_notes: int, counts: dict) -> list[str]:
    """Persisted tables read back with the expected row counts."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.graph import read_graph
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import load_fts_index

    tables = read_graph(spark, f"{out}/graph", database="ragbench")
    # one job counts all 11 tables
    got = dict(functools.reduce(DataFrame.unionByName, (
        df.groupBy().count().select(F.lit(name).alias("t"), "count")
        for name, df in tables.items())).collect())
    bad = [f"{t}: {got.get(t)} rows, expected {n}"
           for t, n in counts.items() if got.get(t) != n]
    idx = load_fts_index(spark, f"{out}/fts")
    if idx.n_docs != n_notes or idx.dls.count() != n_notes:
        bad.append(f"fts index holds {idx.n_docs} docs, expected {n_notes}")
    if spark.read.parquet(f"{out}/vectors").count() != n_notes:
        bad.append("note vectors row count")
    return bad


def _records_equal(pipe, records: list[dict]) -> list[str]:
    """Extracted rows equal the generator's records field for field."""
    got = {r["record_id"]: r.asDict(recursive=True) for r in pipe.extracted.collect()}
    bad = [f"record {r['record_id']} differs" for r in records
           if got.get(r["record_id"]) != r]
    if len(got) != len(records):
        bad.append(f"{len(got)} extracted rows, expected {len(records)}")
    return bad[:5]


def run_ingest(spark, seed: int, seconds: float, trace: bool, work: str) -> Result:
    """Batch builds of the seeded corpus, from parquet to persisted
    artifacts, until ``seconds`` of building have passed."""
    notes, records = fhirgen.generate(INGEST_NOTES, seed)
    counts = fhirgen.Graph(records).counts()
    src = f"{work}/notes"
    _write_notes(spark, notes, src)
    tally = Tally()

    # ready for timed work: the input is readable and the first Python
    # stage (extraction of a small slice) has run
    from odsc_agentic_ai_summit_2025_spark.llm.extract import guarded_extract_fhir

    setup = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        head = spark.read.parquet(src).orderBy("record_id").limit(WARMUP_NOTES)
        _hash_collect(guarded_extract_fhir(head))
        setup.append(time.perf_counter() - t)

    outs: list[str] = []

    def build(factory=None):
        def op():
            out = f"{work}/out{len(outs)}"
            outs.append(out)
            spark.sql("DROP DATABASE IF EXISTS ragbench CASCADE")
            spark.sql("CREATE DATABASE ragbench")
            spark.catalog.clearCache()
            pipe = _ingest_once(spark, src, out, factory)

            def check():
                bad = _check_ingest(spark, out, len(notes), counts)
                if len(outs) == 1:
                    bad += _records_equal(pipe, records)
                return not bad, "; ".join(bad)
            return check
        return op

    info = {"notes": INGEST_NOTES}
    if not trace:
        lat, _, cpu = _measure([build()], seconds, tally)
        info["notes_per_s"] = INGEST_NOTES * len(lat) / sum(lat)
        return _result(setup, lat, cpu, tally, info)

    tr = _Trace(spark)
    base, lat, windows, cpu = _interleaved(
        [build()], [build(CountingFactory(tr.acc))], tally, tr)
    res = _result(setup, lat, cpu, tally, info, base)
    res.trace = tr.rec
    n = len(lat)
    res.layers = tr.layers(n, windows)
    res.layers["llm.extract.calls_per_note"] = tr.acc.value / INGEST_NOTES / n
    res.layers["storage.written_bytes_per_input_byte"] = (
        dir_bytes(outs[-1]) / dir_bytes(src))
    # per-stage seconds: one more build, each stage materialized on its
    # own (catalyst time comes from these held frames)
    spark.catalog.clearCache()
    with tr.rec.span("staged_build"):
        _ingest_staged(spark, src, f"{work}/staged", tr)
    self_s = tr.rec.self_time_by_name()
    for name in STAGES:
        res.layers[f"{name}_s"] = self_s[name]
    res.layers["spark.catalyst_s"] = sum(catalyst_s(df) for df in tr.held)
    return res


WORKLOADS = {"ask": run_ask, "ingest": run_ingest}
