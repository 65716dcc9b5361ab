"""Model-backed embedder plumbing, fully offline (fake transport)."""

from __future__ import annotations

import json

import numpy as np
import pytest


def _fake_transport_factory(dim: int = 8, calls: list | None = None):
    """Deterministic fake model server: embedding = byte histogram of
    the text, so any executor computes the same vector for the same
    text. Records (url, batch_len) into `calls` when given."""

    def factory():
        def transport(url, payload, timeout_s):
            body = json.loads(payload.decode("utf-8"))
            texts = body["input"]
            if calls is not None:
                calls.append((url, len(texts)))
            embs = []
            for t in texts:
                v = np.zeros(dim)
                for ch in t.encode("utf-8"):
                    v[ch % dim] += 1.0
                embs.append(v.tolist())
            if url.endswith("/v1/embeddings"):
                return {"data": [{"embedding": e} for e in embs]}
            return {"embeddings": embs}

        return transport

    return factory


def test_embed_with_model_schema_and_batching(spark):
    from odsc_agentic_ai_summit_2025_spark.functions.model_embedder import (
        embed_with_model,
    )

    # transports run inside Python worker processes, so call metadata
    # can't be observed via a driver-side list — smuggle the per-call
    # batch size out as an extra vector component instead
    def spy_factory():
        def transport(url, payload, timeout_s):
            body = json.loads(payload.decode("utf-8"))
            texts = body["input"]
            assert url.endswith("/api/embed")
            return {
                "embeddings": [
                    [float(len(t)), float(len(texts))] for t in texts
                ]
            }

        return transport

    df = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(50)],
        "id long, text string",
    )
    out = embed_with_model(
        df,
        "text",
        batch_size=16,
        l2_normalize=False,
        transport_factory=spy_factory,
    )
    rows = out.collect()
    assert out.schema["vector"].dataType.simpleString() == "array<double>"
    assert len(rows) == 50
    batch_sizes = [r["vector"][1] for r in rows]
    # batched: every call carried >1 text where possible, never >16
    assert all(1 <= b <= 16 for b in batch_sizes)
    assert max(batch_sizes) > 1  # genuinely batched, not per-row

    # and the default path L2-normalizes
    norm = embed_with_model(
        df.limit(3), "text", transport_factory=_fake_transport_factory(8)
    ).collect()
    assert np.isclose(np.linalg.norm(norm[0]["vector"]), 1.0)


def test_embed_with_model_deterministic_and_downstream_compatible(spark):
    """Vectors are a pure function of the text, and the standard kNN
    operator consumes them unchanged (drop-in for embedder.embed)."""
    from odsc_agentic_ai_summit_2025_spark.functions.model_embedder import (
        embed_with_model,
    )
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        knn_bruteforce,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta"), (2, "zzzz")],
        "id long, text string",
    )
    out = embed_with_model(
        df, "text", transport_factory=_fake_transport_factory(8)
    )
    vecs = {r["id"]: r["vector"] for r in out.collect()}
    assert vecs[0] == vecs[1] != vecs[2]

    qdf = embed_with_model(
        spark.createDataFrame([(100, "alpha beta")], "qid long, q string"),
        "q",
        transport_factory=_fake_transport_factory(8),
    )
    hits = knn_bruteforce(
        out, qdf, "vector", "id", "qid", k=2, exclude_self=False
    ).collect()
    assert {r["n_id"] for r in hits} == {0, 1}  # identical texts win


def test_embed_with_model_openai_style(spark):
    from odsc_agentic_ai_summit_2025_spark.functions.model_embedder import (
        embed_with_model,
    )

    calls: list = []
    df = spark.createDataFrame([(0, "hello")], "id long, text string")
    out = embed_with_model(
        df,
        "text",
        api_style="openai",
        transport_factory=_fake_transport_factory(8, calls),
    )
    assert len(out.collect()) == 1
    assert all(u.endswith("/v1/embeddings") for u, _ in calls)


def test_embed_with_model_retries_then_fails(spark):
    from odsc_agentic_ai_summit_2025_spark.functions.model_embedder import (
        embed_with_model,
    )

    def bad_factory():
        def transport(url, payload, timeout_s):
            raise TimeoutError("model server down")

        return transport

    df = spark.createDataFrame([(0, "x")], "id long, text string")
    out = embed_with_model(
        df, "text", max_retries=1, transport_factory=bad_factory
    )
    with pytest.raises(Exception, match="after 2 attempts"):
        out.collect()


@pytest.mark.parametrize("status,attempts", [(400, 1), (503, 3)])
def test_embed_call_retries_only_transient_status(status, attempts):
    """A client error (HTTP 400) fails the same way on every attempt,
    so it raises after one; a transient one (503) is retried up to
    ``max_retries`` times, the rule the LLM client follows."""
    import urllib.error

    from odsc_agentic_ai_summit_2025_spark.functions.model_embedder import (
        _embed_call,
    )

    calls = []

    def transport(url, payload, timeout_s):
        calls.append(url)
        raise urllib.error.HTTPError(url, status, "refused", None, None)

    with pytest.raises(Exception):
        _embed_call(["x"], "m", "http://model", "ollama", transport, 1.0, 2)
    assert len(calls) == attempts
