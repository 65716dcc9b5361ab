"""Batched LLM extraction as a data-plane operator (SURVEY §2.9
L1-L4; reference driver src/baml_extract.py:52-81).

The reference fans out one async LLM call per record in 100-row
chunks (src/run.sh:6-18). Spark-first, extraction is a
``mapInPandas`` over the notes table: Arrow-batched, one client per
partition, no driver-side loop — concurrency is just partitioning
(``repartition(n)`` replaces the chunked shell loop), so the same
code scales from 2,726 notes to billions.

The client is injected as a zero-arg factory so the executor builds
it locally (clients hold sockets/models — never pickle those from
the driver).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schemas import EXTRACTED_FHIR
from .client import LLMClient, MockLLMClient


def default_client_factory() -> LLMClient:
    return MockLLMClient()


def extract_fhir(
    notes: DataFrame,
    client_factory: Callable[[], LLMClient] = default_client_factory,
) -> DataFrame:
    """notes[record_id, note] → EXTRACTED_FHIR rows.

    Mirrors process_record (src/baml_extract.py:52-63): patient +
    practitioner + immunization extraction per note, allergy arriving
    nested inside the patient struct (the reference's ExtractAllergy
    exists but is not called — extract_fhir.baml:32).
    """
    return _extract(notes, client_factory, metered=False)


#: usage columns appended by :func:`extract_fhir_with_usage`
USAGE_FIELDS = (
    "n_llm_calls int, prompt_tokens int, completion_tokens int, "
    "llm_ms double"
)


def extract_fhir_with_usage(
    notes: DataFrame,
    client_factory: Callable[[], LLMClient] = default_client_factory,
) -> DataFrame:
    """Extraction with per-record token/cost accounting columns.

    The reference meters every BAML call through a Collector and logs
    prompt/completion tokens + duration per span
    (src/baml_instrumentation.py:239-270). Distributed, the metrics
    table can't be a driver-side list — usage is emitted as COLUMNS
    of the extraction output (still one ``mapInPandas`` pass, no
    second scan), and ``usage_summary`` aggregates the fleet totals.
    Token counts come from the client when it reports real usage,
    else the deterministic estimate (``metering.estimate_tokens``).
    """
    return _extract(notes, client_factory, metered=True)


def _extract(
    notes: DataFrame,
    client_factory: Callable[[], LLMClient],
    metered: bool,
) -> DataFrame:
    """The one per-note extraction loop behind both entry points: a
    ``mapInPandas`` making three client calls per note. ``metered``
    wraps the client in a ``MeteredClient`` and appends the
    :data:`USAGE_FIELDS` columns. Metering is imported only when it
    is on: every task forks a fresh worker, which imports again
    whatever the pickled closure names."""
    import pandas as pd

    out_schema = EXTRACTED_FHIR
    if metered:
        from .metering import MeteredClient, UsageCollector

        out_schema = T.StructType(
            list(EXTRACTED_FHIR.fields)
            + list(T.StructType.fromDDL(USAGE_FIELDS).fields)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        if metered:
            collector = UsageCollector()
            # wire the shared collector INTO a client that reports real
            # usage (HttpLLMClient exposes the attribute) — without this
            # MeteredClient can never see real token counts and every
            # row would fall back to the chars/4 estimate
            if hasattr(client, "collector"):
                client.collector = collector
            client = MeteredClient(client, collector)
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for rid, note in zip(pdf["record_id"], pdf["note"]):
                if metered:
                    before = collector.n_records()
                patient = client.extract_patient(note)
                row = {
                    "record_id": int(rid),
                    **patient,
                    "immunization": client.extract_immunizations(note),
                    "practitioner": client.extract_practitioner(note),
                }
                if metered:
                    recs = collector.records_since(before)
                    row["n_llm_calls"] = len(recs)
                    row["prompt_tokens"] = sum(r.prompt_tokens for r in recs)
                    row["completion_tokens"] = sum(
                        r.completion_tokens for r in recs
                    )
                    row["llm_ms"] = sum(r.duration_ms for r in recs)
                rows.append(row)
            yield pd.DataFrame(
                {f.name: [r.get(f.name) for r in rows] for f in out_schema.fields}
            )

    from ..sources.io import ensure_min_partitions

    return ensure_min_partitions(
        notes.select("record_id", "note"), cost="heavy"
    ).mapInPandas(run, out_schema)


def usage_summary(extracted: DataFrame) -> DataFrame:
    """Fleet-wide usage totals + cost from the usage columns (cost
    priced per call by ``metering.call_cost``: the same
    $PROMPT_PRICE_PER_1K / $COMPLETION_PRICE_PER_1K table,
    baml_instrumentation.py:256-258)."""
    from pyspark.sql import functions as F

    from .metering import prices_per_1k

    pp, cp = prices_per_1k()
    return extracted.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_llm_calls").cast("bigint").alias("n_llm_calls"),
        F.sum("prompt_tokens").cast("bigint").alias("prompt_tokens"),
        F.sum("completion_tokens").cast("bigint").alias("completion_tokens"),
        F.round(
            (F.sum("prompt_tokens") / 1000.0) * F.lit(pp)
            + (F.sum("completion_tokens") / 1000.0) * F.lit(cp),
            6,
        ).alias("cost_usd"),
    )


def guarded_extract_fhir(
    notes: DataFrame,
    client_factory: Callable[[], LLMClient] = default_client_factory,
) -> DataFrame:
    """Extraction with the input guardrail applied first (L11 →
    L1-L4): emails in the raw note are masked before any LLM sees
    them (src/guardrails.py:103-237 applied at the pipeline mouth)."""
    from ..functions.guardrails import mask_emails

    from pyspark.sql import functions as F

    masked = notes.select(
        "record_id", mask_emails(F.col("note")).alias("note")
    )
    return extract_fhir(masked, client_factory)
