"""``build_rag_pipeline`` extracts each note once per build.

The extracted records are persisted per build, so a full build makes
one call per extractor field per note, asks make none, every graph
table joins the same extraction, and ``RagPipeline.release()`` hands
the storage back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ragbench.measure import answer_ok
from ragbench.workloads import ASK_MIX, WARMUP_QUESTION, CountingFactory

# extract_patient, extract_immunizations, extract_practitioner
CALLS_PER_NOTE = 3


def _n_blocks(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _clean_baseline(spark) -> int:
    """Sweep residue from other tests sharing the session (the
    ``tests/test_cache_hygiene.py`` baseline)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    for jrdd in list(
        dict(spark.sparkContext._jsc.getPersistentRDDs()).values()
    ):
        jrdd.unpersist()
    return _n_blocks(spark)


def _random_names_factory():
    """An extraction-client factory whose ``extract_patient`` returns a
    fresh random family name on every call — a model that is not
    deterministic. Built in a function so it pickles by value."""
    import uuid

    from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient

    class RandomNames:
        def __init__(self) -> None:
            self._inner = MockLLMClient()

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def extract_patient(self, note):
            rec = self._inner.extract_patient(note)
            name = dict(rec.get("name") or {})
            name["family"] = uuid.uuid4().hex
            return {**rec, "name": name}

    return RandomNames


def test_full_build_extracts_each_note_once(spark, fhir_corpus, tmp_path):
    """build + write_graph + save_fts_index + the vectors parquet: 3
    extraction calls per note; the asks after it add none and still
    answer their golden questions."""
    from odsc_agentic_ai_summit_2025_spark.operators.graph import write_graph
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import (
        save_fts_index,
    )
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline

    n = len(fhir_corpus.records)
    acc = spark.sparkContext.accumulator(0)
    pipe = build_rag_pipeline(
        spark, fhir_corpus.notes, client_factory=CountingFactory(acc),
        meter=False,
    )
    try:
        write_graph(pipe.graph, str(tmp_path / "graph"), n_buckets=4,
                    database="rag_pipeline_test")
        save_fts_index(pipe.rag.fts_index, str(tmp_path / "fts"))
        pipe.rag.notes.write.parquet(str(tmp_path / "vectors"))
        assert acc.value == CALLS_PER_NOTE * n

        for qi in (WARMUP_QUESTION, *ASK_MIX):
            q, expected = fhir_corpus.golden[qi]
            ans = pipe.rag.ask(q).final_answer
            assert answer_ok(ans, expected), (qi, ans, expected)
        assert acc.value == CALLS_PER_NOTE * n
    finally:
        pipe.release()
        spark.sql("DROP DATABASE IF EXISTS rag_pipeline_test CASCADE")


def test_graph_tables_read_one_extraction(spark, fhir_corpus):
    """A model that answers differently on every call: the patient
    table must still carry exactly the extracted names."""
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline

    pipe = build_rag_pipeline(
        spark, fhir_corpus.notes, client_factory=_random_names_factory(),
        meter=False,
    )
    try:
        patient = {
            (r[0], r[1]) for r in spark.sql(
                "SELECT patient_id, surname FROM patient").collect()
        }
        extracted = {
            (r[0], r[1]) for r in pipe.extracted.select(
                "record_id", F.col("name.family")).collect()
        }
        assert len(extracted) == len(fhir_corpus.records)
        assert patient == extracted
    finally:
        pipe.release()


def test_release_returns_census_to_baseline(spark, fhir_corpus):
    """Build, ask and release twice in one session: each release puts
    the persistent-RDD census back to the pre-build baseline."""
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline

    q, expected = fhir_corpus.golden[ASK_MIX[0]]
    baseline = _clean_baseline(spark)
    for run in range(2):
        pipe = build_rag_pipeline(spark, fhir_corpus.notes, meter=False)
        assert answer_ok(pipe.rag.ask(q).final_answer, expected)
        assert _n_blocks(spark) > baseline  # extraction + serving caches
        pipe.release()
        assert _n_blocks(spark) == baseline, f"run {run} leaked storage"
        pipe.release()  # idempotent
        assert _n_blocks(spark) == baseline
    # released frames recompute rather than die
    assert pipe.extracted.count() == len(fhir_corpus.records)
