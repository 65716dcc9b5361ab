"""HTTP client, token/cost metering, judge routing, guardrail traces.

All offline: the HTTP client runs against an injected fake transport
(the correctness suite never makes a network call — SURVEY §5).
"""

from __future__ import annotations

import json
import urllib.error

import pytest

from odsc_agentic_ai_summit_2025_spark.llm.http_client import (
    HttpLLMClient,
    _fenced_json,
)
from odsc_agentic_ai_summit_2025_spark.llm.metering import (
    MeteredClient,
    SpanTracer,
    UsageCollector,
    call_cost,
    estimate_tokens,
)


def _response(content: str, prompt_toks: int = 10, completion_toks: int = 5):
    return {
        "model": "test/model",
        "usage": {
            "prompt_tokens": prompt_toks,
            "completion_tokens": completion_toks,
        },
        "choices": [{"message": {"content": content}}],
    }


def _client(script, collector=None, **kw):
    """Client with a scripted transport: each call pops the next
    entry; an Exception instance is raised instead of returned."""
    calls = {"n": 0, "urls": [], "headers": []}

    def transport(url, headers, payload, timeout_s):
        calls["urls"].append(url)
        calls["headers"].append(headers)
        step = script[min(calls["n"], len(script) - 1)]
        calls["n"] += 1
        if isinstance(step, Exception):
            raise step
        return step

    c = HttpLLMClient(
        api_key="test-key",
        transport=transport,
        collector=collector,
        backoff_s=0.0,
        **kw,
    )
    c._sleep = lambda s: None
    return c, calls


# ---------------------------------------------------------------------------
# HttpLLMClient
# ---------------------------------------------------------------------------


def test_http_client_parses_patient_json():
    patient = {
        "name": {"family": "Doe", "given": ["Jane"], "prefix": "Mrs."},
        "birthDate": "1980-01-02",
    }
    c, calls = _client([_response("```json\n" + json.dumps(patient) + "\n```")])
    out = c.extract_patient("note text")
    assert out["name"]["family"] == "Doe"
    assert out["birthDate"] == "1980-01-02"
    assert out["gender"] is None  # absent keys filled with None
    assert calls["urls"] == [
        "https://openrouter.ai/api/v1/chat/completions"
    ]
    assert calls["headers"][0]["Authorization"] == "Bearer test-key"


def test_http_client_retries_transient_then_succeeds():
    err = urllib.error.HTTPError("u", 429, "rate limited", None, None)
    c, calls = _client([err, err, _response("hello")])
    assert c.answer("q", "ctx") == "hello"
    assert calls["n"] == 3


def test_http_client_gives_up_after_max_retries():
    err = urllib.error.HTTPError("u", 503, "unavailable", None, None)
    c, calls = _client([err], max_retries=2)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        c.answer("q", "ctx")
    assert calls["n"] == 3


def test_http_client_does_not_retry_permanent_errors():
    err = urllib.error.HTTPError("u", 401, "bad key", None, None)
    c, calls = _client([err])
    with pytest.raises(urllib.error.HTTPError):
        c.answer("q", "ctx")
    assert calls["n"] == 1


def test_http_client_requires_api_key(monkeypatch):
    monkeypatch.delenv("OPENROUTER_API_KEY", raising=False)
    c = HttpLLMClient()
    with pytest.raises(RuntimeError, match="API key"):
        c.answer("q", "ctx")


def test_http_client_reports_real_usage_to_collector():
    col = UsageCollector()
    c, _ = _client([_response("x", 123, 45)], collector=col)
    c.answer("q", "ctx")
    [rec] = col.records
    assert (rec.prompt_tokens, rec.completion_tokens) == (123, 45)
    assert rec.function == "AnswerQuestion"
    assert rec.cost == call_cost(123, 45) > 0


def test_fenced_json_tolerates_prose_and_fences():
    assert _fenced_json('Sure! ```json\n{"a": 1}\n```') == {"a": 1}
    assert _fenced_json('The result is [1, 2]') == [1, 2]
    assert _fenced_json('{"a": 1}') == {"a": 1}


def test_text2sql_strips_fences():
    c, _ = _client([_response("```sql\nSELECT 1\n```")])
    assert c.text2sql("q", "<schema/>", []) == "SELECT 1"


# ---------------------------------------------------------------------------
# Metering
# ---------------------------------------------------------------------------


def test_metered_mock_client_records_every_call():
    from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient

    col = UsageCollector()
    c = MeteredClient(MockLLMClient(), col)
    c.extract_patient("Mrs. Jane Doe was born on May 6, 1945.")
    c.answer("how many?", "42")
    assert [r.function for r in col.records] == [
        "extract_patient",
        "answer",
    ]
    t = col.totals()
    assert t["n_calls"] == 2 and t["prompt_tokens"] > 0 and t["cost"] > 0
    # deterministic: estimates are pure functions of the strings
    assert col.records[1].prompt_tokens == estimate_tokens(
        "how many?"
    ) + estimate_tokens("42")


def test_usage_collector_to_df(spark):
    col = UsageCollector()
    col.record("f1", "m", 100, 10, 5.0)
    col.record("f2", "m", 200, 20, 7.0)
    df = col.to_df(spark)
    assert df.columns == [
        "function",
        "model",
        "prompt_tokens",
        "completion_tokens",
        "total_tokens",
        "duration_ms",
        "cost",
    ]
    rows = {r["function"]: r for r in df.collect()}
    assert rows["f1"]["total_tokens"] == 110
    assert rows["f2"]["cost"] == pytest.approx(call_cost(200, 20))


def test_extract_with_usage_matches_plain_extraction(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.llm.extract import (
        extract_fhir,
        extract_fhir_with_usage,
        usage_summary,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    notes = (
        read_table(spark, sf_dir, "documents")
        .selectExpr("doc_id AS record_id", "text AS note")
        .limit(20)
    )
    plain = extract_fhir(notes)
    with_usage = extract_fhir_with_usage(notes)
    # identical extraction output once usage columns are dropped
    assert (
        with_usage.drop(
            "n_llm_calls", "prompt_tokens", "completion_tokens", "llm_ms"
        ).exceptAll(plain).count()
        == 0
    )
    [s] = usage_summary(with_usage).collect()
    # 3 protocol calls per record, nonzero tokens and cost
    assert s["n_records"] == 20
    assert s["n_llm_calls"] == 60
    assert s["prompt_tokens"] > 0 and s["cost_usd"] > 0


def test_span_tracer_nesting(spark):
    tr = SpanTracer()
    with tr.span("outer", q="x"):
        with tr.span("inner"):
            pass
    spans = {s.name: s for s in tr.spans}
    assert spans["inner"].parent == "outer"
    assert spans["outer"].parent is None
    assert spans["outer"].duration_ms >= spans["inner"].duration_ms
    assert tr.to_df(spark).count() == 2


# ---------------------------------------------------------------------------
# Judge routing (L10)
# ---------------------------------------------------------------------------


def test_judge_client_path_matches_column_path(spark):
    from odsc_agentic_ai_summit_2025_spark.llm.judge import (
        JUDGE_METRICS,
        judge_metrics,
        judge_metrics_via_client,
    )

    df = spark.createDataFrame(
        [
            ("how many patients?", "there are 42 patients", "42 patients"),
            ("who is the doctor?", "Dr. Smith", "the doctor is Dr. Smith"),
            ("contact?", "write to a@b.com", "contact a@b.com today"),
            ("empty?", "", ""),
        ],
        "question string, answer string, context string",
    )
    col_path = judge_metrics(df, sample_rate=1.0)
    routed = judge_metrics_via_client(df, sample_rate=1.0)
    key = ["question", "answer", "context"]
    a = {tuple(r[k] for k in key): r for r in col_path.collect()}
    b = {tuple(r[k] for k in key): r for r in routed.collect()}
    assert a.keys() == b.keys()
    for k in a:
        for m in JUDGE_METRICS:
            assert a[k][m] == pytest.approx(b[k][m]), (k, m)


def test_http_judge_parses_score():
    from odsc_agentic_ai_summit_2025_spark.llm.judge import HttpJudge

    c, _ = _client([_response("0.75")])
    judge = HttpJudge(client=c)
    assert judge.score("context_recall", "q", "a", "c") == 0.75


# ---------------------------------------------------------------------------
# Guardrail traces
# ---------------------------------------------------------------------------


def test_validate_text_traced_records():
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        validate_text_traced,
    )

    text = "mail alice@b.com and carol@d.com"
    result, traces = validate_text_traced(text, validation_type="input")
    [t] = traces
    assert t.rule == "email" and t.validation_type == "input"
    assert t.action == result.action == "WARN"
    assert t.triggered and t.n_matches == 2
    assert t.masking_applied and t.masked_length == len(result.masked_text)
    assert t.processing_time_ms >= 0.0


def test_guardrail_trace_df_matches_driver_twin(spark):
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        guardrail_trace_df,
        validate_text_traced,
    )

    rows = [
        (1, "no pii here"),
        (2, "one a@b.com"),
        (3, "a@b.com b@c.de c@d.ef"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r for r in guardrail_trace_df(df, "text", "id").collect()}
    for rid, text in rows:
        _, [t] = validate_text_traced(text)
        g = got[rid]
        assert (
            g["action"],
            g["triggered"],
            g["n_matches"],
            g["masking_applied"],
            g["original_length"],
            g["masked_length"],
        ) == (
            t.action,
            t.triggered,
            t.n_matches,
            t.masking_applied,
            t.original_length,
            t.masked_length,
        )


_NOTES = "/root/reference/data/note.json"
_EXTRACTED = "/root/reference/data/extracted_fhir.json"


@pytest.mark.skipif(
    not __import__("os").path.exists(_NOTES),
    reason="reference data not present",
)
def test_rag_emits_spans_usage_and_guardrail_traces(spark):
    """The FULL RAG path with collector+tracer wired (the
    rag_obs_eval.py analog): answers unchanged, per-call usage rows,
    per-step spans, input+output guardrail traces."""
    from odsc_agentic_ai_summit_2025_spark.llm.metering import (
        SpanTracer,
        UsageCollector,
    )
    from odsc_agentic_ai_summit_2025_spark.llm.rag import HybridRag
    from odsc_agentic_ai_summit_2025_spark.operators.graph import build_graph
    from odsc_agentic_ai_summit_2025_spark.plans.golden import GOLDEN_CASES
    from odsc_agentic_ai_summit_2025_spark.schemas import (
        EXTRACTED_FHIR,
        NOTES,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_json_records

    notes_df = read_json_records(spark, _NOTES, NOTES)
    gold_df = read_json_records(spark, _EXTRACTED, EXTRACTED_FHIR)
    col, tr = UsageCollector(), SpanTracer()
    rag = HybridRag(
        spark, build_graph(gold_df), notes_df, collector=col, tracer=tr
    )
    case = GOLDEN_CASES[0]
    ans = rag.ask(case.question)
    # behavior unchanged by instrumentation
    for expected in case.expected:
        assert expected in ans.final_answer

    # usage: ≥5 metered LLM calls (prune, entities, text2sql, ≥1
    # answer, synthesize), all with tokens and cost
    fns = [r.function for r in col.records]
    for fn in ("prune_schema", "extract_entity_keywords", "text2sql",
               "answer", "synthesize"):
        assert fn in fns, fns
    assert all(r.prompt_tokens > 0 and r.cost > 0 for r in col.records)
    assert col.to_df(spark).count() == len(col.records)

    # spans: every orchestration step, nested under ask
    names = {s.name: s for s in tr.spans}
    for step in ("input_guardrail", "prune_schema", "extract_entities",
                 "graph_branch", "vector_branch", "synthesize",
                 "output_guardrail", "ask"):
        assert step in names, tr.spans
    assert names["graph_branch"].parent == "ask"
    assert names["ask"].parent is None

    # guardrail traces: one input + one output record per ask()
    kinds = [t.validation_type for t in rag.guardrail_traces]
    assert kinds == ["input", "output"]
    assert all(t.rule == "email" for t in rag.guardrail_traces)


def test_build_rag_pipeline_end_to_end(spark, request):
    """run.sh-equivalent composition: notes → extract → graph → RAG,
    answering a golden question with usage + span tables populated.
    Runs on the reference notes when present, else on the seeded
    ``fhir_corpus``."""
    from odsc_agentic_ai_summit_2025_spark.pipeline import (
        build_rag_pipeline,
    )
    from odsc_agentic_ai_summit_2025_spark.plans.golden import GOLDEN_CASES
    from odsc_agentic_ai_summit_2025_spark.schemas import NOTES
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_json_records

    if __import__("os").path.exists(_NOTES):
        notes = read_json_records(spark, _NOTES, NOTES).filter(
            "record_id <= 300"
        )
        n_notes = 300
    else:
        corpus = request.getfixturevalue("fhir_corpus")
        notes, n_notes = corpus.notes, len(corpus.records)
    p = build_rag_pipeline(spark, notes)
    # graph views are registered and queryable
    assert spark.sql("SELECT count(*) FROM patient").collect()[0][0] > 0
    # extraction emitted rows for the slice
    assert p.extracted.count() == n_notes
    case = GOLDEN_CASES[5]  # category-count question, graph-answerable
    ans = p.rag.ask(case.question)
    assert ans.final_answer  # non-empty through the full path
    assert p.usage_df(spark).count() >= 5
    names = {s.name for s in p.tracer.spans}
    assert {"extract", "build_graph", "build_rag", "ask"} <= names
    p.release()
