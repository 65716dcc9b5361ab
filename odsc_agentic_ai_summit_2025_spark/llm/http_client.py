"""Real HTTP ``LLMClient`` over an OpenAI-compatible chat API.

The reference's live clients are BAML ``openai-generic`` providers
pointed at OpenRouter (src/baml_src/clients.baml:3-16: base_url
https://openrouter.ai/api/v1, env-keyed api_key, temperature 0.0,
optional attribution headers) with retry policies
(clients.baml retry_policy blocks). This module is the drop-in
implementation of the same ``LLMClient`` protocol the deterministic
``MockLLMClient`` satisfies: the data plane (``llm.extract``) and the
RAG orchestration (``llm.rag``) take a client/factory and never know
which one they got.

Design constraints honored here:

- stdlib only (``urllib``): nothing to install on executors, and the
  client pickles as a factory, never as a live object.
- injectable ``transport`` callable so the full request/parse/retry
  path is unit-testable offline (the correctness suite never makes a
  network call — SURVEY §5 reproducibility rule).
- every method returns the same Python shapes as the mock, so the
  downstream Arrow schemas are identical.
- per-call usage (prompt/completion tokens, duration, model) is
  reported to an optional ``UsageCollector`` (see ``metering.py``) —
  the analog of the reference's BAML Collector
  (src/baml_instrumentation.py:239-270).
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.error
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from .metering import UsageCollector

DEFAULT_BASE_URL = "https://openrouter.ai/api/v1"
DEFAULT_MODEL = "openai/gpt-4o-mini"  # clients.baml:3-16
API_KEY_ENV = "OPENROUTER_API_KEY"  # clients.baml:8

# retry policy: the reference's BAML clients retry transient failures
# with exponential backoff; same statuses here. Any other HTTP status
# (400, 401, 404, ...) fails the same way on every attempt, so it
# raises at once — the model embedder follows the same rule.
RETRYABLE_STATUS = {408, 409, 429, 500, 502, 503, 504}

# Transport: (url, headers, payload-bytes, timeout_s) -> response dict.
Transport = Callable[[str, dict[str, str], bytes, float], dict[str, Any]]


def _urllib_transport(
    url: str, headers: dict[str, str], payload: bytes, timeout_s: float
) -> dict[str, Any]:
    req = urllib.request.Request(url, data=payload, headers=headers)
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        return json.loads(resp.read().decode("utf-8"))


class TransientHTTPError(RuntimeError):
    """A retryable failure (HTTP 5xx/429/timeout)."""


def _fenced_json(text: str) -> Any:
    """Parse the model's JSON answer, tolerating ```json fences and
    leading prose (the same laxity BAML's schema-aligned parser
    gives the reference's prompts)."""
    m = re.search(r"```(?:json)?\s*(.*?)```", text, re.S)
    if m:
        text = m.group(1)
    start = min(
        (i for i in (text.find("{"), text.find("[")) if i >= 0),
        default=-1,
    )
    if start > 0:
        text = text[start:]
    return json.loads(text)


@dataclass
class HttpLLMClient:
    """``LLMClient`` implementation over OpenAI-compatible chat
    completions (OpenRouter by default — clients.baml:3-16)."""

    model: str = DEFAULT_MODEL
    base_url: str = DEFAULT_BASE_URL
    api_key: str | None = None  # default: $OPENROUTER_API_KEY
    temperature: float = 0.0  # clients.baml:9 — determinism first
    timeout_s: float = 60.0
    max_retries: int = 3
    backoff_s: float = 1.0
    extra_headers: dict[str, str] = field(default_factory=dict)
    transport: Transport = _urllib_transport
    collector: UsageCollector | None = None
    _sleep: Callable[[float], None] = time.sleep

    # -- plumbing -----------------------------------------------------------

    def _chat(self, fn_name: str, system: str, user: str) -> str:
        key = self.api_key or os.environ.get(API_KEY_ENV)
        if not key:
            raise RuntimeError(
                f"HttpLLMClient needs an API key: set ${API_KEY_ENV} or "
                "pass api_key= (tests should use MockLLMClient instead)"
            )
        headers = {
            "Authorization": f"Bearer {key}",
            "Content-Type": "application/json",
            # attribution headers the reference sends (clients.baml:10-13)
            **self.extra_headers,
        }
        payload = json.dumps(
            {
                "model": self.model,
                "temperature": self.temperature,
                "messages": [
                    {"role": "system", "content": system},
                    {"role": "user", "content": user},
                ],
            }
        ).encode("utf-8")
        url = self.base_url.rstrip("/") + "/chat/completions"

        last_err: Exception | None = None
        t0 = time.perf_counter()
        for attempt in range(self.max_retries + 1):
            try:
                body = self.transport(url, headers, payload, self.timeout_s)
                usage = body.get("usage") or {}
                if self.collector is not None:
                    self.collector.record(
                        function=fn_name,
                        model=body.get("model", self.model),
                        prompt_tokens=int(usage.get("prompt_tokens", 0)),
                        completion_tokens=int(
                            usage.get("completion_tokens", 0)
                        ),
                        duration_ms=(time.perf_counter() - t0) * 1000.0,
                    )
                return body["choices"][0]["message"]["content"]
            except urllib.error.HTTPError as e:
                if e.code not in RETRYABLE_STATUS:
                    raise
                last_err = e
            except (
                TransientHTTPError,
                urllib.error.URLError,
                TimeoutError,
            ) as e:
                last_err = e
            if attempt < self.max_retries:
                self._sleep(self.backoff_s * (2**attempt))
        raise RuntimeError(
            f"LLM call {fn_name} failed after {self.max_retries + 1} "
            f"attempts: {last_err}"
        )

    def _chat_json(self, fn_name: str, system: str, user: str) -> Any:
        return _fenced_json(self._chat(fn_name, system, user))

    # -- L1-L4: FHIR extraction (extract_fhir.baml) -------------------------

    _PATIENT_KEYS = (
        "name age gender birthDate address phone email maritalStatus "
        "primaryLanguage allergy"
    ).split()

    def extract_patient(self, note: str) -> dict[str, Any]:
        """L1 ExtractPatient — extract_fhir.baml:60-73."""
        out = self._chat_json(
            "ExtractPatient",
            "Extract the patient's FHIR fields from the clinical note. "
            "Return ONLY a JSON object with keys: name {family, given "
            "(array), prefix}, age, gender, birthDate (YYYY-MM-DD), "
            "address {line, city, state, postalCode, country}, phone, "
            "email, maritalStatus, primaryLanguage, allergy {substance: "
            "[{category, name, manifestation}]}. Use null when absent.",
            note,
        )
        return {k: out.get(k) for k in self._PATIENT_KEYS}

    def extract_practitioner(self, note: str) -> dict[str, Any] | None:
        """L2 ExtractPractitioner — extract_fhir.baml:75-88."""
        out = self._chat_json(
            "ExtractPractitioner",
            "Extract the practitioner (the doctor) from the clinical "
            "note as JSON {name {family, given (array), prefix}, "
            "address, phone, email} or the JSON value null if none.",
            note,
        )
        return out or None

    def extract_immunizations(self, note: str) -> list[dict[str, Any]] | None:
        """L3 ExtractImmunization — extract_fhir.baml:90-103."""
        out = self._chat_json(
            "ExtractImmunization",
            "Extract every immunization event from the note as a JSON "
            "array of {traits, status, occurrenceDateTime "
            "(YYYY-MM-DD)}; [] if none.",
            note,
        )
        return out or None

    # -- L5-L9: RAG prompts (rag.baml) --------------------------------------

    def prune_schema(self, schema_xml: str, question: str) -> str:
        """L5 PruneSchema — rag.baml:37-63."""
        return self._chat(
            "PruneSchema",
            "Given a graph schema as XML and a question, return only "
            "the schema elements relevant to the question, as XML.",
            f"<question>{question}</question>\n{schema_xml}",
        )

    def extract_entity_keywords(
        self, question: str, schema_xml: str
    ) -> list[dict[str, str]]:
        """L7 ExtractEntityKeywords — rag.baml:130-144."""
        out = self._chat_json(
            "ExtractEntityKeywords",
            "Extract entity keywords from the question as a JSON array "
            "of {key, value} pairs against the given schema.",
            f"<question>{question}</question>\n{schema_xml}",
        )
        return [
            {"key": str(e.get("key", "")), "value": str(e.get("value", ""))}
            for e in out
        ]

    def text2sql(
        self, question: str, schema_xml: str, entities: list[dict[str, str]]
    ) -> str:
        """L6 Text2Cypher re-targeted to Spark SQL — rag.baml:65-102
        (including the LIMIT 10 prompt rule, rag.baml:73)."""
        sql = self._chat(
            "Text2SQL",
            "Write ONE ANSI SQL query answering the question over the "
            "given schema. Unaggregated row queries must end with "
            "LIMIT 10. Return only the SQL, no fences, no prose.",
            f"<question>{question}</question>\n{schema_xml}\n"
            f"<entities>{json.dumps(entities)}</entities>",
        )
        return re.sub(r"^```(?:sql)?|```$", "", sql.strip(), flags=re.M).strip()

    def answer(self, question: str, context: str) -> str:
        """L8 AnswerQuestion — rag.baml:104-128."""
        return self._chat(
            "AnswerQuestion",
            "Answer the question using ONLY the provided context.",
            f"<question>{question}</question>\n<context>{context}</context>",
        ).strip()

    def synthesize(
        self, question: str, vector_answer: str, graph_answer: str
    ) -> str:
        """L9 SynthesizeAnswers — rag.baml:146-176 (graph wins on
        counts/aggregates; vector side is top-k-truncated)."""
        return self._chat(
            "SynthesizeAnswers",
            "Synthesize one final answer from the two candidate "
            "answers. The graph answer is authoritative for counts and "
            "aggregates; the vector answer only ever saw the top-k "
            "notes.",
            f"<question>{question}</question>\n"
            f"<graph>{graph_answer}</graph>\n"
            f"<vector>{vector_answer}</vector>",
        ).strip()
