"""Hybrid Graph-RAG query path, end-to-end (SURVEY §3.1; reference
run_hybrid_rag, src/rag.py:120-158).

Driver-side orchestration around Spark-built artifacts:

1. input guardrail (mask emails in the question)        rag_obs_eval.py:268-288
2. schema introspection → XML                           utils.py:37-105
3. LLM schema pruning                                   rag.py:29-39
4. LLM entity-keyword extraction                        rag.py:114-127
5a. graph branch: text2sql → spark.sql → collect → answer  rag.py:48-75
5b. vector branch: hybrid FTS+vector search, RRF top-k  rag.py:83-96
6. synthesis (graph wins on counts)                     rag.py:147-150
7. output guardrail                                     rag_obs_eval.py:357-379

Steps 2-4/6 are one LLM round-trip each (driver-side, injectable
client); 5a/5b are Spark jobs. The graph branch is one path: the
generated SQL runs as written over the 11 registered graph views (the
only tables the prompt schema names), and SQL that fails to run leaves
the graph answer empty (the reference's Q10 failure mode) while the
vector branch still answers. Variable-length ``*1..4`` patterns
belong to hand-written queries over ``operators.graph``, as in the
reference. The reference runs 5a/5b as concurrent
asyncio tasks; here the two Spark actions run one after the other.
Both branches read only precomputed artifacts, so the result is the
same, but an ask pays the sum of the two branch latencies rather
than the larger of them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions import guardrails
from ..functions.embedder import embed
from ..functions.schema_xml import fhir_graph_schema_xml
from ..operators import fts, rrf
from ..operators import similarity as sim
from .client import LLMClient, MockLLMClient

# notes fused into the vector context (the reference's default,
# rag.py:80)
TOP_K = 2


@dataclass
class HybridRagAnswer:
    question: str
    masked_question: str
    guardrail_action: str
    pruned_schema: str
    entities: list[dict[str, str]]
    sql: str
    graph_answer: str
    vector_answer: str
    final_answer: str
    graph_rows: list[tuple] = field(default_factory=list)
    context_ids: list[int] = field(default_factory=list)


class HybridRag:
    """Holds the precomputed artifacts (the graph views, the note
    vectors and the FTS index) and answers questions through the
    7-step path; the graph branch runs the generated SQL over the
    views and nothing else."""

    def __init__(
        self,
        spark: SparkSession,
        graph,
        notes: DataFrame,
        client: LLMClient | None = None,
        collector=None,  # metering.UsageCollector → per-call metrics
        tracer=None,  # metering.SpanTracer → per-step spans
    ) -> None:
        self.spark = spark
        self.client = client or MockLLMClient()
        self.guardrail_traces: list = []
        if collector is not None:
            from .metering import MeteredClient

            self.client = MeteredClient(self.client, collector)
        self.collector = collector
        if tracer is None:
            from .metering import SpanTracer

            tracer = SpanTracer()
        self.tracer = tracer
        self.schema_xml = fhir_graph_schema_xml(graph)
        graph.register(spark)
        # S8: embed-on-insert as an explicit column op; cache both
        # retrieval artifacts — they serve every question.
        self.notes = embed(notes, "note").cache()
        # FTS index built ONCE (generate_note_embeddings.py:49); every
        # ask() only scores its own query-term slice. Index and query
        # share ONE normalization (lowercase alnum runs) — a raw
        # whitespace index is case/punctuation-sensitive, so lowercased
        # query terms would miss capitalized entity terms ('Rosenbaum')
        # and hybrid retrieval silently degrades to vector-only.
        self.fts_index = fts.build_fts_index(
            self.notes, "note", "record_id", cache=True,
            tokenizer=fts.normalized_tokens,
        )

    def release(self) -> None:
        """Release every serving cache this instance pinned: the FTS
        index and the note vectors. Idempotent; a later ask recomputes
        what it reads."""
        self.fts_index.release()
        cache.release_frame(self.notes)

    # -- vector branch (rag.py:83-96) --------------------------------------
    def _vector_context(self, entities: list[dict[str, str]]) -> DataFrame:
        query_text = " ".join(e["value"] for e in entities)
        terms = fts.normalize_query_terms(query_text)
        bm = fts.bm25_topk_indexed(self.fts_index, terms, k=20)
        # one row from a one-partition range: the plan carries a size
        # estimate, so the embed's fan-out check keeps it on one task
        # (a createDataFrame row has none and fans out to
        # defaultParallelism Python tasks)
        qdf = embed(
            self.spark.range(1, numPartitions=1).select(
                F.col("id").alias("qid"), F.lit(query_text).alias("q")
            ),
            "q",
        )
        vec = sim.knn_bruteforce(
            self.notes, qdf, "vector", "record_id", "qid", k=20,
            exclude_self=False,  # query id domain is disjoint from record_ids
        ).select(F.col("n_id").alias("record_id"), "rank")
        fused = rrf.rrf_fuse(
            [bm.withColumnRenamed("doc_id", "record_id"), vec],
            id_col="record_id",
            top_k=TOP_K,
        )
        return fused.join(
            self.notes.select("record_id", "note"), "record_id"
        ).orderBy("rrf_rank")

    def ask(self, question: str) -> HybridRagAnswer:
        with self.tracer.span("ask"):
            # 1. input guardrail (traced per rule —
            # enhanced_guardrail_integration.py:53-147)
            with self.tracer.span("input_guardrail"):
                gr, traces = guardrails.validate_text_traced(
                    question, validation_type="input"
                )
                self.guardrail_traces.extend(traces)
            q = gr.masked_text

            # 2-4. prune schema, extract entities (one LLM call each)
            with self.tracer.span("prune_schema"):
                pruned = self.client.prune_schema(self.schema_xml, q)
            with self.tracer.span("extract_entities"):
                entities = self.client.extract_entity_keywords(q, pruned)

            # 5a. graph branch: generated SQL over the registered views
            with self.tracer.span("graph_branch"):
                sql = self.client.text2sql(q, pruned, entities)
                graph_rows: list[tuple] = []
                graph_answer = ""
                try:
                    graph_rows = [
                        tuple(r) for r in self.spark.sql(sql).collect()
                    ]
                except Exception:
                    # bad generated SQL ≡ reference's Q10 failure mode.
                    # ONLY the SQL execution is guarded: a client
                    # failure in answer() below is a transport error
                    # that must surface, not be misclassified as bad
                    # SQL and silently discard correct graph rows.
                    pass
                else:
                    graph_answer = self.client.answer(
                        q,
                        "; ".join(
                            ", ".join(str(v) for v in row)
                            for row in graph_rows
                        ),
                    )

            # 5b. vector branch: hybrid top-k context → answer
            with self.tracer.span("vector_branch"):
                hits = self._vector_context(entities).collect()
                context_ids = [int(r["record_id"]) for r in hits]
                vec_context = "\n\n".join(r["note"] for r in hits)
                vector_answer = self.client.answer(q, vec_context)

            # 6. synthesis + 7. output guardrail (traced)
            with self.tracer.span("synthesize"):
                final = self.client.synthesize(
                    q, vector_answer, graph_answer
                )
            with self.tracer.span("output_guardrail"):
                _, out_traces = guardrails.validate_text_traced(
                    final, validation_type="output"
                )
                self.guardrail_traces.extend(out_traces)
                final = guardrails.mask_emails_text(final)

        return HybridRagAnswer(
            question=question,
            masked_question=q,
            guardrail_action=gr.action,
            pruned_schema=pruned,
            entities=entities,
            sql=sql,
            graph_answer=graph_answer,
            vector_answer=vector_answer,
            final_answer=final,
            graph_rows=graph_rows,
            context_ids=context_ids,
        )
