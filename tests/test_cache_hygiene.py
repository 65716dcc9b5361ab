"""Operator-internal cache lifetimes are caller-releasable.

Round-3 verdict item: operators that persist()/localCheckpoint()
intermediates backing their returned plan (jaccard prefixes, MinHash
band rows, LSH inputs, component label checkpoints, row-index
partition pins) used to rely on the caller sweeping the whole block
manager. Round 4 attaches the handles to the result (cache.own);
these tests assert that a composed pipeline run + release leaves the
block manager exactly where it started — twice in one session.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from odsc_agentic_ai_summit_2025_spark import cache


def _n_blocks(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _clean_baseline(spark) -> int:
    """Sweep residue from OTHER tests sharing the session fixture
    (unreleased frames whose blocks the ContextCleaner would
    otherwise drop mid-test and corrupt the baseline)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    for jrdd in list(
        dict(spark.sparkContext._jsc.getPersistentRDDs()).values()
    ):
        jrdd.unpersist()
    return _n_blocks(spark)


def _docs(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    return read_table(spark, sf_dir, "documents")


def test_curation_pipeline_releases_all_storage(spark, sf_dir):
    """Run the composed curation pipeline TWICE in one session; after
    each release() the persistent-RDD census must be back to the
    pre-run baseline (no growth run over run)."""
    from odsc_agentic_ai_summit_2025_spark.pipeline import (
        build_curation_pipeline,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    baseline = _clean_baseline(spark)
    counts_first = None
    for run in range(2):
        pipe = build_curation_pipeline(corpus, bench)
        counts = pipe.stage_counts()
        if counts_first is None:
            counts_first = counts
        else:
            assert counts == counts_first  # release didn't corrupt plans
        assert counts["final"] > 0
        pipe.release()
        assert _n_blocks(spark) == baseline, f"run {run} leaked storage"


def test_jaccard_pairs_release(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        jaccard_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    baseline = _clean_baseline(spark)
    out = jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    n = out.count()
    assert _n_blocks(spark) > baseline  # the prefix persist is live
    cache.release(out)
    assert _n_blocks(spark) == baseline
    assert out.count() == n  # plan recomputes fine after release

    # a second release is a no-op: the first emptied the handles, so
    # it cannot unpersist an identical-plan twin's live prefix cache
    # (DataFrame.unpersist matches cached plans by sameResult)
    assert cache.handles(out) == ()
    twin = jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    twin.count()
    n_live = _n_blocks(spark)
    assert n_live > baseline
    cache.release(out)
    assert _n_blocks(spark) == n_live
    cache.release(twin)
    assert _n_blocks(spark) == baseline


def test_neardup_lsh_release(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.functions.embedder import embed
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        neardup_pairs_lsh,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    vecs = embed(docs, "text", "vector", dim=64).select("doc_id", "vector")
    baseline = _clean_baseline(spark)
    out = neardup_pairs_lsh(
        vecs, "vector", "doc_id", threshold=0.95, n_tables=8,
        planes_per_table=8,
    )
    out.count()
    cache.release(out)
    assert _n_blocks(spark) == baseline


def test_connected_components_releases_rounds(spark):
    """The distributed path (large-star/small-star, budget 0) must
    release each round's checkpoint and the edge persist, leaving
    exactly the final labels after returning; release() drops those
    too."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(199)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")
    baseline = _clean_baseline(spark)
    comp = connected_components(pairs, driver_budget_bytes=0)
    comp.count()
    leftover = _n_blocks(spark) - baseline
    assert leftover <= 1, f"loop left {leftover} round checkpoints behind"
    cache.release(comp)
    assert _n_blocks(spark) == baseline


def test_row_index_distributed_release(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.sources.io import (
        with_row_index_distributed,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    baseline = _clean_baseline(spark)
    out = with_row_index_distributed(docs, ["doc_id"])
    out.count()
    assert _n_blocks(spark) > baseline
    cache.release(out)
    assert _n_blocks(spark) == baseline


def test_ivf_index_release(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.operators.ivf import ivf_build
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    baseline = _clean_baseline(spark)
    idx = ivf_build(emb, "embedding", "vec_id", k_clusters=4)
    idx.assigned.count()
    assert _n_blocks(spark) > baseline
    idx.release()
    assert _n_blocks(spark) == baseline


def test_release_of_derived_view_keeps_shared_cache(spark, sf_dir):
    """Releasing a frame DERIVED from an owned result (an aggregate
    over it — not a transparent wrapper) must be a no-op: before the
    r5 fix the registry fallback matched the owned plan as a subtree
    and unpersisted the result's backing localCheckpoint, killing the
    base frame (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on next action)."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    _clean_baseline(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6)], "id long")
    comps = connected_components(pairs, vertices=nodes)
    assert comps.count() == 5

    derived = comps.groupBy("cluster_id").count()
    derived.count()
    cache.release(derived)  # owns nothing; must not touch comps' cache

    # base frame still alive (checkpoint blocks intact)
    assert comps.count() == 5
    cache.release(comps)


def test_release_of_limit_preview_keeps_base(spark, sf_dir):
    """A .limit() preview of a live result is not a transparent
    wrapper: releasing it must not free the base's caches (r5 review:
    GlobalLimit/LocalLimit were in the walk-through set, so a preview
    release killed a checkpoint-backed base)."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    _clean_baseline(spark)
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    comps = connected_components(pairs, vertices=nodes)
    assert comps.count() == 4

    preview = comps.limit(2)
    preview.collect()
    cache.release(preview)  # cleanup of the preview, not of comps
    assert comps.count() == 4  # base alive
    cache.release(comps)


def test_graph_analytics_release_reaches_generator_caches(spark, sf_dir):
    """q90/q91 build on jaccard_pairs, whose prefix persist used to be
    orphaned when the plan stripped the edge columns (r5 review): the
    result's release must return the block census to baseline."""
    from odsc_agentic_ai_summit_2025_spark.plans.dedup import (
        q90_triangle_counts,
        q91_pagerank,
    )

    baseline = _clean_baseline(spark)
    n_broadcasts = len(cache._BROADCASTS)
    for q in (q90_triangle_counts, q91_pagerank):
        out = q(spark, sf_dir)
        out.count()
        cache.release(out)
        assert _n_blocks(spark) == baseline, q.__name__
        assert len(cache._BROADCASTS) == n_broadcasts, q.__name__


# ---------------------------------------------------------------------------
# Folded from test_review_r5c: release hygiene regressions
# ---------------------------------------------------------------------------


def test_fts_index_release_drops_cache(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.fts import build_fts_index

    docs = spark.createDataFrame(
        [(i, f"term{i} shared word") for i in range(20)], ["doc_id", "text"]
    )
    idx = build_fts_index(docs, "text", "doc_id", cache=True)
    idx.postings.count()  # materialize the caches
    assert idx.postings.storageLevel.useMemory
    idx.release()
    assert not idx.postings.storageLevel.useMemory
    assert not idx.dls.storageLevel.useMemory
    assert not idx.dfreq.storageLevel.useMemory


def test_q47_release_returns_block_census_to_baseline(spark, sf_dir):
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.plans.extended import q47_ivf_knn

    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    out = q47_ivf_knn(spark, sf_dir)
    out.count()
    assert jsc.getPersistentRDDs().size() > base  # the IVF assignment
    release(out)
    assert jsc.getPersistentRDDs().size() == base
