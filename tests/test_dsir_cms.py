"""DSIR Count-Min model tier (the documented 100-TB model swap,
operators/curation.py:dsir_scores 'Scale shape'):

- the paired sketch is FIXED-SIZE (≤ 3·65536 cells) whatever the fit
  corpus;
- point-queried counts are one-sided CMS overestimates vs the exact
  model (est ≥ true per gram and slice, never under);
- wherever the sketch is collision-free the scores equal the exact
  serving scorer row-for-row;
- the streaming twin scores each micro-batch identically to the batch
  scorer under the same pinned sketch, and leaks no persisted frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odsc_agentic_ai_summit_2025_spark import cache
from odsc_agentic_ai_summit_2025_spark.operators.curation import (
    _dsir_cms_counts,
    dsir_model,
    dsir_model_cms,
    dsir_score_with_cms_model,
    dsir_score_with_model,
)
from odsc_agentic_ai_summit_2025_spark.sources.io import read_table


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def test_cms_model_is_fixed_size(spark, sf_dir):
    cms = dsir_model_cms(_docs(spark, sf_dir), "text", "source", "src1")
    rows = cms.collect()
    assert 0 < len(rows) <= 3 * 65536
    assert {r.row_idx for r in rows} <= {0, 1, 2}
    assert all(0 <= r.col_idx < 65536 for r in rows)
    # total mass per row equals the corpus gram-occurrence count,
    # split by slice — each occurrence increments one cell per row
    per_row = {
        r[0]: (r[1], r[2])
        for r in cms.groupBy("row_idx")
        .agg(F.sum("_t").alias("t"), F.sum("_r").alias("r"))
        .collect()
    }
    assert len(set(per_row.values())) == 1  # identical mass in all D rows


def test_cms_counts_one_sided_vs_exact(spark, sf_dir):
    """The CMS guarantee: every point query ≥ the true count, for
    both slices — the bound the 100-TB tier trades exactness for."""
    docs = _docs(spark, sf_dir)
    exact = dsir_model(docs, "text", "source", "src1")
    cms = dsir_model_cms(docs, "text", "source", "src1")
    est = _dsir_cms_counts(exact.select("gram"), cms)
    joined = (
        exact.alias("e")
        .join(est.alias("s"), "gram")
        .select(
            F.col("e._t").alias("t"),
            F.col("e._r").alias("r"),
            F.col("s._t").alias("st"),
            F.col("s._r").alias("sr"),
        )
    )
    n = exact.count()
    assert joined.count() == n  # every exact gram got an estimate
    assert joined.filter("st < t OR sr < r").count() == 0  # one-sided
    # and the sketch is USEFUL, not vacuous: at sf0.001's gram
    # cardinality most cells are collision-free, so most estimates
    # are exact (deterministic md5 placement — this is a fixed count,
    # not a flaky sample)
    exact_frac = joined.filter("st = t AND sr = r").count() / n
    assert exact_frac > 0.5


def test_cms_scores_match_exact_when_collision_free(spark, sf_dir):
    """On a slice small enough that no gram collides in any of the D
    rows, the CMS scorer must equal the exact serving scorer
    row-for-row (same shared _dsir_score_tail, same counts)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    exact = dsir_model(docs, "text", "source", "src1")
    cms = dsir_model_cms(docs, "text", "source", "src1")
    est = _dsir_cms_counts(exact.select("gram"), cms)
    collisions = (
        exact.alias("e")
        .join(est.alias("s"), "gram")
        .filter("s._t <> e._t OR s._r <> e._r")
        .count()
    )
    assert collisions == 0  # precondition — deterministic for this slice
    want_df = dsir_score_with_model(docs, exact, "text", "doc_id")
    got_df = dsir_score_with_cms_model(docs, cms, "text", "doc_id")
    want = sorted(map(tuple, want_df.collect()))
    got = sorted(map(tuple, got_df.collect()))
    cache.release(got_df)
    assert got == want


def test_dsir_cms_stream_parity(spark, sf_dir, tmp_path):
    """Streaming twin: each shard's scores against the pinned sketch
    equal the batch CMS scorer on that shard, and no persisted frame
    outlives the run (the batch closure releases per micro-batch)."""
    from odsc_agentic_ai_summit_2025_spark.cache import release, release_frame
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        dsir_score_cms_stream,
    )

    docs = _docs(spark, sf_dir)
    cms = dsir_model_cms(docs, "text", "source", "src1").localCheckpoint(
        eager=True
    )
    shards = [
        docs.filter(F.col("doc_id") % 2 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(2)
    ]
    d = tmp_path / "dsir_cms_stream_in"
    d.mkdir()
    for i, s in enumerate(shards):
        s.toPandas().to_parquet(d / f"shard-{i}.parquet", index=False)

    got_batches = []

    def sink(df, batch_id):
        got_batches.append(sorted(map(tuple, df.collect())))

    q = dsir_score_cms_stream(spark, str(d), cms, sink)
    q.awaitTermination(120)
    assert len(got_batches) == 2

    want_batches = []
    for s in shards:
        scored = dsir_score_with_cms_model(s, cms, "text", "doc_id")
        want_batches.append(sorted(map(tuple, scored.collect())))
        release(scored)
    assert sorted(got_batches) == sorted(want_batches)

    release_frame(q.dsirModelHandle)
    release_frame(cms)


def test_dsir_cms_stream_sink_failure_leaks_nothing(spark, sf_dir, tmp_path):
    """A sink that raises after materializing its batch must still
    release the batch's persisted gram frame: once the failed query
    stops, the only persisted RDDs beyond the baseline back the
    pinned model (``query.dsirModelHandle``)."""
    from pyspark.errors import StreamingQueryException

    from odsc_agentic_ai_summit_2025_spark.cache import release_frame
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        dsir_score_cms_stream,
    )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = _docs(spark, sf_dir)
    d = tmp_path / "dsir_cms_stream_fail_in"
    d.mkdir()
    shard = docs.select("doc_id", "text", "lang", "source", "n_chars")
    shard.toPandas().to_parquet(d / "shard-0.parquet", index=False)
    cms = dsir_model_cms(docs, "text", "source", "src1")
    baseline = persisted()

    def sink(df, batch_id):
        df.collect()
        raise RuntimeError("sink down")

    q = dsir_score_cms_stream(spark, str(d), cms, sink)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    release_frame(q.dsirModelHandle)
    assert persisted() == baseline


def test_dsir_model_cms_stream_fit_equals_batch_refit(
    spark, sf_dir, tmp_path
):
    """The incremental-fit streaming path (r8): folding each ingest
    delivery's sketch into the standing model by element-wise sum
    must reproduce the batch sketch fit on the concatenated corpus
    BIT FOR BIT (the pinned shard-merge algebra, exercised through
    the stream), with per-batch snapshots equal to each prefix's
    refit, and no leaked state blocks after release."""
    from odsc_agentic_ai_summit_2025_spark.cache import release_frame
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        dsir_model_cms_stream,
    )

    docs = _docs(spark, sf_dir)
    shards = [
        docs.filter(F.col("doc_id") % 2 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(2)
    ]
    d = tmp_path / "dsir_cms_fit_in"
    d.mkdir()
    for i, s in enumerate(shards):
        s.toPandas().to_parquet(d / f"shard-{i}.parquet", index=False)

    snapshots = []

    def sink(model_df, batch_id):
        snapshots.append(sorted(map(tuple, model_df.collect())))

    q = dsir_model_cms_stream(spark, str(d), "src1", sink)
    q.awaitTermination(120)
    assert len(snapshots) == 2

    # final standing sketch ≡ batch refit on the full corpus
    full = sorted(
        map(tuple, dsir_model_cms(docs, "text", "source", "src1").collect())
    )
    assert snapshots[-1] == full
    got_final = sorted(map(tuple, q.dsirModelState["cms"].collect()))
    assert got_final == full
    # each snapshot ≡ the refit of its own delivery prefix (file
    # order = shard order with one file per trigger)
    first = sorted(
        map(
            tuple,
            dsir_model_cms(shards[0], "text", "source", "src1").collect(),
        )
    )
    assert snapshots[0] == first

    # at-least-once idempotence: a redelivered micro-batch (same or
    # older batch_id re-entering the fold, as foreachBatch retries
    # do) must be a no-op — folding it again would double-count its
    # grams and break the prefix-equality claim above
    n_snapshots = len(snapshots)
    for replay_id in (0, 1):
        q.dsirModelFold(shards[replay_id], replay_id)
    assert len(snapshots) == n_snapshots  # sink not re-invoked
    still = sorted(map(tuple, q.dsirModelState["cms"].collect()))
    assert still == full
    release_frame(q.dsirModelState["cms"])


def test_cms_model_merges_across_shards(spark, sf_dir):
    """The docstring's algebraic claim: sketches fit on disjoint
    corpus shards merge by element-wise sum into exactly the sketch
    fit on the union (same hash placement, counter addition)."""
    docs = _docs(spark, sf_dir)
    shards = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    merged = (
        dsir_model_cms(shards[0], "text", "source", "src1")
        .unionByName(dsir_model_cms(shards[1], "text", "source", "src1"))
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("_t").alias("_t"), F.sum("_r").alias("_r"))
    )
    full = dsir_model_cms(docs, "text", "source", "src1")
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b


def test_dsir_cms_stream_sink_failure_keeps_at_least_once(
    spark, sf_dir, tmp_path
):
    """Sink delivery ordering (r10): a sink() failure must leave the
    fold state UNCOMMITTED — committing last_batch_id before the sink
    runs would make the idempotence guard swallow the redelivery and
    silently drop that batch's snapshot (at-most-once). With
    sink-first ordering the redelivered batch re-folds from unchanged
    state and the final model still equals the batch refit."""
    from odsc_agentic_ai_summit_2025_spark.cache import release_frame
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        dsir_model_cms_stream,
    )

    docs = _docs(spark, sf_dir)
    shards = [
        docs.filter(F.col("doc_id") % 2 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(2)
    ]
    d = tmp_path / "dsir_cms_sinkfail_in"
    d.mkdir()
    # only shard 0 goes through the real stream; shard 1 is delivered
    # manually below so the failure is injected deterministically
    shards[0].toPandas().to_parquet(d / "shard-0.parquet", index=False)

    snapshots = []
    fail_next = {"on": False}

    def sink(model_df, batch_id):
        if fail_next["on"]:
            fail_next["on"] = False
            raise RuntimeError("sink outage")
        snapshots.append(sorted(map(tuple, model_df.collect())))

    q = dsir_model_cms_stream(spark, str(d), "src1", sink)
    q.awaitTermination(120)
    assert len(snapshots) == 1
    state = q.dsirModelState
    committed = sorted(map(tuple, state["cms"].collect()))

    # batch 1 delivery fails inside the sink: state must not advance
    fail_next["on"] = True
    try:
        q.dsirModelFold(shards[1], 1)
    except RuntimeError:
        pass
    else:
        raise AssertionError("sink failure must propagate")
    assert state["last_batch_id"] == 0
    assert sorted(map(tuple, state["cms"].collect())) == committed
    assert len(snapshots) == 1  # no snapshot recorded for the failure

    # redelivery of the SAME batch_id (foreachBatch retry) now folds
    # and the standing model equals the full-corpus batch refit
    q.dsirModelFold(shards[1], 1)
    assert state["last_batch_id"] == 1
    full = sorted(
        map(tuple, dsir_model_cms(docs, "text", "source", "src1").collect())
    )
    assert snapshots[-1] == full
    assert sorted(map(tuple, state["cms"].collect())) == full
    release_frame(state["cms"])
