"""Model-backed embedding as a drop-in for the hash embedder.

The reference embeds notes with ollama's ``nomic-embed-text`` through
LanceDB's embedding registry (src/generate_note_embeddings.py:13-23).
Spark-first, a model server is just another per-partition resource:
``embed_with_model`` is a ``mapInPandas`` with the same
``text → array<double>`` output contract as ``embedder.embed``, so
every downstream operator (kNN, IVF, LSH, RRF, near-dup) works
unchanged with real model vectors.

Scale shape (the part that matters at 100 TB):

- one HTTP session per PARTITION, not per row — executors talk to
  their local model replica (ollama sidecar / embedding service);
- requests are BATCHED (``batch_size`` texts per call — the ollama
  ``/api/embed`` API takes a list input) — never one call per row;
- map-only and shuffle-free, like the hash embedder: the operator
  pipelines into whatever the downstream plan shuffles;
- the transport is injectable, so the full plumbing (batching,
  retries, schema, normalization) is testable offline — the suite
  never needs a model server (SURVEY §5), mirroring how the LLM
  surface tests run on ``MockLLMClient``.

The default endpoint shape is ollama's ``POST /api/embed`` with
``{"model": ..., "input": [texts]}`` → ``{"embeddings": [[...]]}``;
``api_style="openai"`` switches to the OpenAI-compatible
``/v1/embeddings`` body/response shape.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..llm.http_client import RETRYABLE_STATUS

DEFAULT_BASE_URL = "http://localhost:11434"  # ollama default port
DEFAULT_MODEL = "nomic-embed-text"  # generate_note_embeddings.py:14

# (url, payload-bytes, timeout_s) -> parsed JSON response
Transport = Callable[[str, bytes, float], dict[str, Any]]


def _urllib_transport(url: str, payload: bytes, timeout_s: float):
    req = urllib.request.Request(
        url, data=payload, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _embed_call(
    texts: list[str],
    model: str,
    base_url: str,
    api_style: str,
    transport: Transport,
    timeout_s: float,
    max_retries: int,
) -> list[list[float]]:
    if api_style == "ollama":
        url = base_url.rstrip("/") + "/api/embed"
        body = {"model": model, "input": texts}
        key = "embeddings"
    elif api_style == "openai":
        url = base_url.rstrip("/") + "/v1/embeddings"
        body = {"model": model, "input": texts}
        key = "data"
    else:
        raise ValueError(f"unknown api_style {api_style!r}")
    payload = json.dumps(body).encode("utf-8")
    last: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            out = transport(url, payload, timeout_s)
            if api_style == "openai":
                return [d["embedding"] for d in out[key]]
            return out[key]
        except urllib.error.HTTPError as e:
            if e.code not in RETRYABLE_STATUS:
                raise
            last = e
        except (urllib.error.URLError, TimeoutError, OSError) as e:
            last = e
    raise RuntimeError(
        f"embedding call failed after {max_retries + 1} attempts: {last}"
    )


def embed_with_model(
    df: DataFrame,
    text_col: str,
    out_col: str = "vector",
    model: str = DEFAULT_MODEL,
    base_url: str = DEFAULT_BASE_URL,
    api_style: str = "ollama",
    batch_size: int = 64,
    timeout_s: float = 120.0,
    max_retries: int = 3,
    l2_normalize: bool = True,
    transport_factory: Callable[[], Transport] | None = None,
) -> DataFrame:
    """Append a model-computed embedding column (same contract as
    ``embedder.embed``: input rows preserved, ``out_col`` is
    ``array<double>``).

    ``transport_factory`` builds the HTTP transport ON THE EXECUTOR
    (a zero-arg factory pickles; a live session does not). The
    default factory returns the urllib transport against
    ``base_url`` — i.e. a model server reachable from every executor,
    the distributed analog of the reference's single-process ollama
    client.
    """
    from ..sources.io import ensure_min_partitions

    factory = transport_factory or (lambda: _urllib_transport)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd  # noqa: F401

        transport = factory()  # one session per partition
        for pdf in batches:
            texts = ["" if t is None else str(t) for t in pdf[text_col]]
            vecs: list[list[float]] = []
            for i in range(0, len(texts), batch_size):
                vecs.extend(
                    _embed_call(
                        texts[i : i + batch_size],
                        model,
                        base_url,
                        api_style,
                        transport,
                        timeout_s,
                        max_retries,
                    )
                )
            m = np.asarray(vecs, dtype=np.float64)
            if l2_normalize and m.size:
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                np.divide(m, nrm, out=m, where=nrm > 0)
            out = pdf.copy()
            out[out_col] = list(m)
            yield out

    return ensure_min_partitions(df).mapInPandas(run, out_schema)
