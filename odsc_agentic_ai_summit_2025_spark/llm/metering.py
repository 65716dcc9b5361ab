"""Per-call token/cost accounting + span tracing for the LLM surface.

The reference tracks every BAML call's token usage, duration, and
dollar cost through a Collector and emits them as Opik span metadata
(src/baml_instrumentation.py:239-270: prompt/completion tokens,
duration_ms, cost from $PROMPT_PRICE_PER_1K / $COMPLETION_PRICE_PER_1K
with defaults 0.0005 / 0.000009). Spark-first, the same accounting has
two homes:

- **driver-side** (RAG orchestration, a handful of calls per
  question): a ``UsageCollector`` the client reports into, turned
  into a metrics DataFrame with ``to_df``;
- **data-plane** (batched extraction over millions of notes): usage
  is emitted as COLUMNS alongside the extraction output
  (``llm.extract.extract_fhir_with_usage``) and aggregated with
  ``usage_summary`` — a distributed metrics table, no driver
  round-trip, no accumulator race.

``MeteredClient`` wraps ANY ``LLMClient`` (mock or HTTP): it times
each call and reports usage. When the wrapped client doesn't surface
real token counts (the mock), tokens are estimated deterministically
(ceil(chars/4) — the usual 4-chars/token heuristic) so the accounting
path is testable offline.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass
from typing import Any

_PROMPT_PRICE_ENV = "PROMPT_PRICE_PER_1K"
_COMPLETION_PRICE_ENV = "COMPLETION_PRICE_PER_1K"
# reference defaults, baml_instrumentation.py:256-258
_PROMPT_PRICE_DEFAULT = 0.0005
_COMPLETION_PRICE_DEFAULT = 0.000009


def prices_per_1k() -> tuple[float, float]:
    """(prompt, completion) dollars per 1k tokens: env-priced,
    reference defaults. The one price table of the LLM surface."""
    return (
        float(os.environ.get(_PROMPT_PRICE_ENV, _PROMPT_PRICE_DEFAULT)),
        float(
            os.environ.get(_COMPLETION_PRICE_ENV, _COMPLETION_PRICE_DEFAULT)
        ),
    )


def call_cost(prompt_tokens: int, completion_tokens: int) -> float:
    """Dollar cost of one call (priced by :func:`prices_per_1k`)."""
    pp, cp = prices_per_1k()
    return (prompt_tokens / 1000.0) * pp + (completion_tokens / 1000.0) * cp


def estimate_tokens(text: str) -> int:
    """Deterministic offline token estimate (~4 chars/token)."""
    return math.ceil(len(text) / 4) if text else 0


@dataclass(frozen=True)
class CallRecord:
    """One LLM call's usage — the span metadata the reference logs."""

    function: str
    model: str
    prompt_tokens: int
    completion_tokens: int
    duration_ms: float
    cost: float


CALL_RECORD_SCHEMA = (
    "function string, model string, prompt_tokens int, "
    "completion_tokens int, total_tokens int, duration_ms double, "
    "cost double"
)


class UsageCollector:
    """Thread-safe sink for ``CallRecord``s (driver-side calls can
    run from concurrent question tasks)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[CallRecord] = []

    def record(
        self,
        function: str,
        model: str,
        prompt_tokens: int,
        completion_tokens: int,
        duration_ms: float,
    ) -> None:
        rec = CallRecord(
            function,
            model,
            prompt_tokens,
            completion_tokens,
            duration_ms,
            call_cost(prompt_tokens, completion_tokens),
        )
        with self._lock:
            self._records.append(rec)

    @property
    def records(self) -> list[CallRecord]:
        with self._lock:
            return list(self._records)

    def n_records(self) -> int:
        with self._lock:
            return len(self._records)

    def records_since(self, start: int) -> list[CallRecord]:
        """Copy only the records appended at or after ``start`` — the
        per-record metering loop calls this instead of snapshotting
        the whole list (O(R²) over a partition otherwise)."""
        with self._lock:
            return list(self._records[start:])

    def totals(self) -> dict[str, float]:
        recs = self.records
        return {
            "n_calls": len(recs),
            "prompt_tokens": sum(r.prompt_tokens for r in recs),
            "completion_tokens": sum(r.completion_tokens for r in recs),
            "cost": sum(r.cost for r in recs),
        }

    def to_df(self, spark):
        """The per-call metrics table (one row per LLM call)."""
        rows = [
            (
                r.function,
                r.model,
                r.prompt_tokens,
                r.completion_tokens,
                r.prompt_tokens + r.completion_tokens,
                r.duration_ms,
                r.cost,
            )
            for r in self.records
        ]
        return spark.createDataFrame(rows, CALL_RECORD_SCHEMA)


class MeteredClient:
    """Wrap any ``LLMClient`` so every protocol method reports usage.

    Token counts: real ones if the wrapped client already reported to
    the same collector during the call (``HttpLLMClient`` does);
    otherwise estimated from the textual inputs/outputs so the mock
    path yields a deterministic, fully offline metrics table.
    """

    _METHODS = (
        "extract_patient",
        "extract_practitioner",
        "extract_immunizations",
        "prune_schema",
        "extract_entity_keywords",
        "text2sql",
        "answer",
        "synthesize",
    )

    def __init__(
        self,
        inner: Any,
        collector: UsageCollector,
        model: str = "mock",
    ) -> None:
        self._inner = inner
        self._collector = collector
        self._model = model
        # if the inner client reports real usage itself, don't double-count
        self._inner_reports = (
            getattr(inner, "collector", None) is collector
        )

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._inner, name)
        if name not in self._METHODS or not callable(attr):
            return attr

        def metered(*args: Any, **kwargs: Any) -> Any:
            t0 = time.perf_counter()
            out = attr(*args, **kwargs)
            if not self._inner_reports:
                prompt = sum(
                    estimate_tokens(a) for a in args if isinstance(a, str)
                )
                completion = estimate_tokens(
                    out if isinstance(out, str) else repr(out)
                )
                self._collector.record(
                    function=name,
                    model=self._model,
                    prompt_tokens=prompt,
                    completion_tokens=completion,
                    duration_ms=(time.perf_counter() - t0) * 1000.0,
                )
            return out

        return metered


# ---------------------------------------------------------------------------
# Span tracing (driver-side; the Opik-span analog)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Span:
    """One traced step (name, parent, wall-clock, metadata) — the
    shape the reference pushes to Opik (rag_obs_eval.py:31-44)."""

    name: str
    parent: str | None
    start_s: float
    duration_ms: float
    metadata: dict[str, Any]


class SpanTracer:
    """Minimal hierarchical tracer: ``with tracer.span("ask"): ...``.

    Collects spans in memory; ``to_df`` renders the trace table. No
    external service — the exporter seam is the list itself.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._spans: list[Span] = []
        # per-thread open-span stacks: concurrent questions (the
        # reference runs 5a/5b and multiple asks in parallel) must not
        # interleave push/pop or parents cross-attribute across threads
        self._local = threading.local()

    def _stack(self) -> list[str]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, **metadata: Any):
        tracer = self

        class _Ctx:
            def __enter__(self) -> None:
                tracer._stack().append(name)
                self._t0 = time.perf_counter()

            def __exit__(self, *exc: Any) -> None:
                dt = (time.perf_counter() - self._t0) * 1000.0
                stack = tracer._stack()
                stack.pop()
                parent = stack[-1] if stack else None
                with tracer._lock:
                    tracer._spans.append(
                        Span(name, parent, self._t0, dt, dict(metadata))
                    )

        return _Ctx()

    @property
    def spans(self) -> list[Span]:
        with self._lock:
            return list(self._spans)

    def to_df(self, spark):
        rows = [
            (s.name, s.parent, s.duration_ms, str(s.metadata))
            for s in self.spans
        ]
        return spark.createDataFrame(
            rows, "name string, parent string, duration_ms double, metadata string"
        )
