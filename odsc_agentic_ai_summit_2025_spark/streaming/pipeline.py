"""Event-stream operators: windowed rollups + gap sessionization,
each with a batch definition and a Structured Streaming twin.

The reference has NO streaming surface (SURVEY §2.10) — its only
incremental behavior is idempotent batch re-ingest. The driver's
``events`` table is still stream-shaped, so the engine provides the
operators a training-data pipeline needs, defined batch-first (the
correctness oracle) with ``readStream`` twins that compute the same
result incrementally:

- ``windowed_counts`` — tumbling-window count/sum per event_type.
  Streaming twin: watermark + window aggregation, append mode.
- ``sessionize`` — gap-based sessions per user (new session when the
  gap to the previous event exceeds the timeout). Batch: lag +
  running sum — the classic islands pattern, all window functions,
  no UDF. Streaming twin: ``session_window`` native operator.

Parity between each pair is asserted in tests (availableNow trigger
drains the whole table through the stream path). At 100 TB the batch
forms shuffle once by their grouping key; the streaming forms carry
state bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _docs_stream(
    spark: SparkSession, docs_path: str, *, max_files_per_trigger=None
) -> DataFrame:
    """Streaming scan of the documents table — ONE schema source
    (``schemas.TESTDATA``) for every docs-stream twin, so a column
    added there cannot silently miss a reader."""
    from ..schemas import TESTDATA

    reader = spark.readStream.schema(TESTDATA["documents"]).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(docs_path)


def _read_events_stream(
    spark: SparkSession, events_path: str, *, max_files_per_trigger=None
) -> DataFrame:
    """Streaming scan of the events table. The ``ts`` unit (ns vs µs)
    is footer-detected exactly like the batch reader (sources/io.py),
    so the parity tests compare like with like: NANOS is read as a
    raw long and converted with integer arithmetic; MICROS streams as
    a native timestamp."""
    from ..sources.io import _events_ts_is_nanos

    def _opt(reader):
        if max_files_per_trigger is not None:
            return reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader

    if not _events_ts_is_nanos(events_path):
        from ..schemas import TESTDATA

        return (
            _opt(spark.readStream.schema(TESTDATA["events"]))
            .format("parquet")
            .load(events_path)
        )
    # session-scoped side effect, same rationale as sources/io.py:
    # the conf must hold for every micro-batch of the lazy stream
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return (
        _opt(spark.readStream.schema(raw))
        .format("parquet")
        .load(events_path)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window rollup per event_type (batch definition)."""
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.col("_sum").cast("double").alias("sum_value"),
        )
    )


def windowed_counts_stream(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin: same aggregation over a file stream with a
    watermark bounding state (late data beyond it is dropped —
    at-least-the-batch-answer once the source is drained)."""
    stream = _read_events_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.col("_sum").cast("double").alias("sum_value"),
        )
    )


def windowed_distinct(
    events: DataFrame, window: str = "1 hour", rsd: float = 0.05
) -> DataFrame:
    """Per-window approximate distinct users (batch definition): the
    sketch rollup a telemetry pipeline runs where an exact
    COUNT(DISTINCT) per window would shuffle every id. Spark's
    ``approx_count_distinct`` is HyperLogLog++ — deterministic for a
    given input set and ``rsd`` (hashing, no sampling), so the
    streaming twin must reproduce it exactly once the source drains."""
    return (
        events.groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_users_approx",
            "n_events",
        )
    )


def windowed_distinct_stream(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.05,
) -> DataFrame:
    """Streaming twin of :func:`windowed_distinct`: the HLL++ sketch
    IS the state — fixed-size per (window) group whatever the user
    cardinality, merged across micro-batches by the same sketch
    algebra the batch partial-aggregate uses, evicted at the
    watermark. This is the streaming face of the q57 sketch tier:
    exact per-window distinct over an unbounded stream needs state
    linear in distinct ids; the sketch caps it at ~1.5 KB/window."""
    stream = _read_events_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_users_approx",
            "n_events",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions per user (batch definition).

    Islands pattern: order a user's events by time, mark rows whose
    gap from the previous event exceeds the timeout, running-sum the
    marks → session ordinal. One shuffle (by user_id); window
    functions do the rest inside the partition.

    Output: [user_id, session_seq, session_start, session_end,
    n_events] — session_seq is 1-based per user.
    """
    gap_us = _interval_seconds(gap) * 1_000_000
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "_new",
        # >= : an event exactly `gap` after the previous one starts a
        # new session, matching session_window's exclusive window end.
        # Microsecond arithmetic: casting to long truncates to seconds
        # and mis-classifies gaps within 1s of the timeout.
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            >= gap_us,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)) + 1,
    )
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def sessionize_stream(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin using the native ``session_window`` stateful
    operator (Spark merges windows closer than the gap — identical
    session extents to the batch islands pattern)."""
    stream = _read_events_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def interval_join_pairs(events: DataFrame, window_s: int = 3600) -> DataFrame:
    """Batch definition: (purchase, click) pairs where the click lands
    in the hour before the purchase — the pair-level core of q62,
    via the bucketed equi plan in ``operators/rangejoin.py``."""
    from ..operators.rangejoin import interval_join

    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    return interval_join(
        purchases, clicks, on="user_id", left_ts="pts", right_ts="cts",
        lower_s=-window_s, upper_s=0, how="inner",
    ).select("purchase_id", "user_id", "cts")


def interval_join_stream(
    spark: SparkSession,
    events_path: str,
    window_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin: native stream-stream interval join. Watermarks
    on both sides + the time-range predicate bound the join state —
    Spark evicts a buffered click once no future purchase can reach
    back to it. Same output as :func:`interval_join_pairs` once the
    source drains."""
    stream = _read_events_stream(spark, events_path)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts"))
        .withWatermark("pts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("cts"))
        .withWatermark("cts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"user_id = c_user AND cts >= pts - INTERVAL {window_s} SECOND "
            "AND cts < pts"
        ),
        "inner",
    ).select("purchase_id", "user_id", "cts")


def user_running_totals(events: DataFrame) -> DataFrame:
    """Batch definition of the per-user lifetime aggregate:
    [user_id, n_events, total_value] (exact decimal sum; a user whose
    every value is NULL totals 0.0 — the running-total identity the
    stateful stream twin also starts from)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
            F.lit(0.0),
        ).alias("total_value"),
    )


def user_running_totals_stream(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """Custom stateful streaming twin via ``applyInPandasWithState``:
    one state cell per user carrying (n, exact-decimal total),
    updated per micro-batch in Arrow batches.

    This is the template for any custom stateful operator Spark lacks
    natively (running dedup sets, session carts, feature windows):
    group state is bounded by key cardinality, not stream length, and
    the per-batch update is vectorized pandas. State here never
    expires (lifetime totals) — put a timeout on the state when the
    key space is unbounded.
    """
    from decimal import Decimal

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),  # exact µ-units
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as _pd
        from decimal import ROUND_HALF_UP

        micro = Decimal("0.000001")
        n, total_micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer accumulation of value in micro-units:
            # double-sum order varies by batch; integers don't. NULL
            # values count the event but add nothing (the batch
            # decimal SUM skips them); quantization is HALF_UP on the
            # double's shortest decimal form, matching Spark's
            # double→decimal(18,6) cast rather than Python round()'s
            # banker's rounding
            for v in pdf["value"]:
                if _pd.isna(v):
                    continue
                total_micros += int(
                    Decimal(str(v))
                    .quantize(micro, rounding=ROUND_HALF_UP)
                    .scaleb(6)
                )
        state.update((n, total_micros))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total_micros / 1_000_000],
            }
        )

    stream = _read_events_stream(spark, events_path)
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_docs(docs: DataFrame) -> DataFrame:
    """Batch definition of content dedup over a documents table:
    one surviving row per distinct text, keyed by sha2 digest, the
    earliest doc_id winning (same shape as ``operators/dedup.py``
    exact dedup / q34 — restated here as the batch oracle for the
    streaming twin). Shuffles 32-byte digests, not documents."""
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn("content_sha", F.sha2(F.col("text"), 256))
        .groupBy("content_sha")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_docs_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming twin: ``dropDuplicates`` on the content digest over a
    documents file stream — exactly one representative of each content
    survives, later copies are dropped as they arrive (ingest-time
    dedup, the streaming form of the training-data pipeline's first
    stage).

    Determinism contract — weaker than the batch oracle's, stated
    honestly: the SET of surviving digests is deterministic, but
    WHICH doc_id represents a digest is whichever copy a task
    processes first within the micro-batch (Spark's streaming
    ``dropDuplicates`` keeps the first row seen, which is
    partition-scheduling dependent). When the representative id
    matters downstream, use the deterministic admission path
    (``operators/dedup.py:dedup_admit_incremental`` per delivery —
    min-id, auditable) instead; the parity test accordingly compares
    digest sets.

    State carries one 32-byte digest per distinct content — bounded by
    corpus distinct-count, not stream length. For unbounded streams
    where exact global state can't be kept, use
    :func:`dedup_events_stream_within_watermark` — the event-time
    bounded variant."""
    return (
        _docs_stream(spark, docs_path)
        .filter(F.col("text").isNotNull())
        .withColumn("content_sha", F.sha2(F.col("text"), 256))
        .dropDuplicates(["content_sha"])
        .select("content_sha", "doc_id")
    )


def dedup_events_stream_within_watermark(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keeps a key's digest only until the watermark passes its event
    time, so state size is rate × watermark — the shape that survives
    an unbounded 100-TB/day stream (exact global dedup state cannot).
    Duplicates arriving later than the watermark are not caught; that
    is the documented at-scale tradeoff."""
    stream = _read_events_stream(spark, events_path)
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def ingest_gate_stream(
    spark: SparkSession,
    docs_path: str,
    bench_grams: list[str],
    *,
    n: int = 3,
) -> DataFrame:
    """Streaming twin of ``operators/curation.py:ingest_gate``: the
    per-document admit/reject decision (benchmark decontamination +
    repetition gates) over a documents file stream.

    Entirely stateless — the gram set rides in as a broadcast literal
    and every expression is per-row — so the stream plan is a pure
    map: no watermark, no state store, unbounded-rate safe. Parity
    with the batch definition is asserted in tests."""
    from ..operators.curation import ingest_gate

    stream = _docs_stream(spark, docs_path)
    return ingest_gate(stream, bench_grams, "text", "doc_id", n=n)


def curation_prefix_stream(
    spark: SparkSession,
    docs_path: str,
    bench_grams: list[str],
    *,
    n: int = 3,
) -> DataFrame:
    """Streaming twin of the curation pipeline's stateless prefix
    (``operators/curation.py:curation_prefix``): ingest gate + C4
    quality filter composed over a documents file stream.

    Still a pure per-row map — the gate carries its input columns
    forward instead of the batch pipeline's gate→docs semi-join, so
    the composition introduces no state store and the plan admits
    unbounded rates. Row-for-row parity with the batch prefix is
    asserted in tests; the stages after this prefix (exact/near
    dedup) need cross-document state and have their own watermarked
    twins."""
    from ..operators.curation import curation_prefix

    stream = _docs_stream(spark, docs_path)
    return curation_prefix(stream, bench_grams, "text", "doc_id", n=n)


def bpe_token_stats_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming twin of ``operators/textops.py:bpe_token_stats`` —
    LLM-token budgeting per document as the corpus streams in. Pure
    per-row regex + array expressions, no state store; parity with
    the batch definition is asserted in tests. (The packing step
    that FOLLOWS this in a batch pipeline — ``pack_sequences`` — is
    deliberately not twinned: a global token prefix sum over an
    unbounded stream is unbounded state by definition.)"""
    from ..operators.textops import bpe_token_stats

    stream = _docs_stream(spark, docs_path)
    return bpe_token_stats(stream, "text", "doc_id")


def weighted_resample_stream(
    spark: SparkSession,
    docs_path: str,
    weights: dict[str, int],
    *,
    salt: str = "resample",
) -> DataFrame:
    """Streaming twin of ``curation.weighted_resample``: apply a
    PRE-COMPUTED source→weight_e4 table (the batch q73 output — same
    pattern as the gate's benchmark gram set) to a document stream.
    The copy decision is the salted-hash device, a pure per-row map,
    so the twin is stateless and admits unbounded rates; only the
    weight table itself needs the batch pass. Parity with the batch
    operator (run with the same weights) is row-for-row by
    construction and asserted in tests."""
    from ..operators.curation import resample_reps

    stream = _docs_stream(spark, docs_path)
    w = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(int(e4)))
            for s, e4 in sorted(weights.items())
        ],
        F.lit(0),
    )
    reps = resample_reps("doc_id", "_w", salt)
    return (
        stream.select("doc_id", "source", w.alias("_w"))
        .select("doc_id", "source", F.explode(reps).alias("_ci"))
        .select(
            "doc_id", "source", F.col("_ci").cast("long").alias("copy_idx")
        )
    )


def pack_sequences_stream(
    spark: SparkSession,
    docs_path: str,
    sink,
    *,
    seq_len: int = 512,
    max_files_per_trigger: int = 1,
):
    """Streaming twin of ``pack_sequences`` in its BOUNDED variant:
    each ingest micro-batch is packed independently with the batch
    operator and handed to ``sink(packed_df, batch_id)``.

    The batch operator's docstring is right that a GLOBAL token
    prefix sum over an unbounded stream is unbounded state — but a
    trainer feed doesn't want one: it packs per delivered shard and
    resets the offset at each shard boundary (chunk ids are scoped by
    ``batch_id``). That per-batch scope is exactly a foreachBatch:
    inside the hook the micro-batch is a plain DataFrame, so the
    SAME distributed prefix-sum operator runs unchanged — no
    semantics fork between the batch and streaming paths (parity
    asserted in tests file-for-file). State store: none; the only
    state is Spark's file-source progress log.

    Returns the started StreamingQuery (availableNow trigger);
    callers await it. ``sink`` must MATERIALIZE the frame it is given
    (write/collect) — the packed frame's checkpoint caches are
    released when the hook returns.
    """
    from .. import cache
    from ..operators.textops import pack_sequences

    def _pack(batch_df: DataFrame, batch_id: int) -> DataFrame:
        out = pack_sequences(batch_df, "text", "doc_id", seq_len=seq_len)
        return cache.own(
            out.withColumn("batch_id", F.lit(batch_id)), *cache.handles(out)
        )

    return _per_batch_stream(
        _docs_stream(
            spark, docs_path, max_files_per_trigger=max_files_per_trigger
        ),
        _pack,
        sink,
    )


def dsir_score_stream(
    spark: SparkSession,
    docs_path: str,
    model: DataFrame,
    sink,
    *,
    n: int = 2,
    cap_e4: int = 10**8,
    max_files_per_trigger: int = 1,
):
    """Streaming twin of DSIR importance scoring in its SERVING shape:
    the count model is FIT once in batch (``curation.dsir_model`` —
    the same pattern as the gate's benchmark gram set and the
    resample twin's weight table) and each ingest micro-batch is
    scored against it with ``curation.dsir_score_with_model``
    unchanged — one gram fan-out, one stream-static gram-keyed join,
    one doc-keyed agg per delivery; no state store (the only state is
    the file-source progress log). Out-of-corpus grams score the
    neutral 1:1 term by the operator's definition, so arbitrary
    future deliveries are well-defined. Parity with the batch scorer
    over the concatenated corpus is row-for-row by construction
    (scoring is per-doc given a fixed model) and asserted in tests
    shard-for-shard.

    The model frame is PERSISTED here (the first batch materializes
    it once) — unpinned, every micro-batch's join would re-run the
    model's whole fit lineage: the same lazy-composition re-execution
    class the r6 pipeline fix closed. Long-lived sessions release it
    after ``awaitTermination`` via
    ``cache.release_frame(query.dsirModelHandle)`` (set on the
    returned query; harmless if the caller manages its own
    already-materialized frame).

    ``sink(scored_df, batch_id)`` must materialize what it is given.
    Returns the started StreamingQuery (availableNow trigger).
    """
    from ..operators.curation import dsir_score_with_model

    model = model.persist()
    return _per_batch_stream(
        _docs_stream(
            spark, docs_path, max_files_per_trigger=max_files_per_trigger
        ),
        lambda batch_df, _: dsir_score_with_model(
            batch_df, model, "text", "doc_id", n=n, cap_e4=cap_e4
        ),
        sink,
        dsirModelHandle=model,
    )


def dsir_score_cms_stream(
    spark: SparkSession,
    docs_path: str,
    cms: DataFrame,
    sink,
    *,
    n: int = 2,
    cap_e4: int = 10**8,
    max_files_per_trigger: int = 1,
):
    """CMS twin of :func:`dsir_score_stream` — the 100-TB serving
    shape: the model is the FIXED-SIZE paired Count-Min sketch
    (``curation.dsir_model_cms``, ≤ 3·65536 rows however large the
    fitting corpus), broadcast into every micro-batch's score join,
    so model size no longer grows with fit-corpus gram cardinality.
    Each batch is scored with ``curation.dsir_score_with_cms_model``
    unchanged; that scorer persists its per-batch gram frame (it
    feeds both the sketch probe and the score join), so the batch
    closure RELEASES the scored frame once the sink returns or raises
    — without that every micro-batch would leak one persisted frame.

    Returns the started StreamingQuery (availableNow trigger); the
    pinned sketch handle is exposed as ``query.dsirModelHandle`` for
    the caller to release after ``awaitTermination``."""
    from ..operators.curation import dsir_score_with_cms_model

    cms = cms.persist()
    return _per_batch_stream(
        _docs_stream(
            spark, docs_path, max_files_per_trigger=max_files_per_trigger
        ),
        lambda batch_df, _: dsir_score_with_cms_model(
            batch_df, cms, "text", "doc_id", n=n, cap_e4=cap_e4
        ),
        sink,
        dsirModelHandle=cms,
    )


def _per_batch_stream(stream, score, sink, **handles):
    """The shared delivery skeleton for every stateless per-batch twin
    (sequence packing, DSIR scoring, semantic decontamination).

    ``score(batch_df, batch_id)`` builds the micro-batch's result and
    ``sink(result, batch_id)`` must materialize it: the caches the
    result owns are released once the sink returns or raises, so no
    delivery leaks its persisted intermediates. ``handles`` — the
    frames pinned for the whole run — are set as attributes on the
    started StreamingQuery (availableNow trigger) for the caller to
    release after ``awaitTermination``.
    """
    from .. import cache

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        out = score(batch_df, batch_id)
        try:
            sink(out, batch_id)
        finally:
            cache.release(out)

    query = (
        stream.writeStream.foreachBatch(_batch)
        .trigger(availableNow=True)
        .start()
    )
    for name, frame in handles.items():
        setattr(query, name, frame)
    return query


def _incremental_fold_stream(stream, state_key, build_delta, merge, sink):
    """The shared delivery skeleton for every standing-sketch stream
    (DSIR CMS model, HLL registers, HDR histogram): fold each
    micro-batch's delta into a localCheckpoint'd standing frame.

    The contract, in one place so it cannot diverge per twin:

    - **Idempotence**: foreachBatch is at-least-once — a retried
      delivery re-enters with the SAME batch_id, and folding it twice
      would double-count. batch_ids increase monotonically per query,
      so remembering the last folded id is a complete guard —
      PROVIDED state commits only after every effect succeeds:
    - **Sink-first commit ordering**: the sink callback runs BEFORE
      state commits; if it raises, the new checkpoint is released and
      state is unchanged, so the redelivery re-folds instead of being
      swallowed by the guard (which alone would make sink delivery
      at-most-once under partial failure).
    - **Checkpoint hygiene**: the new state is an EAGER
      localCheckpoint (the previous checkpoint's blocks feed the
      merge and must stay live until the new one is materialized);
      the previous frame is released only after the commit.

    ``build_delta(batch_df)`` fits the sketch on the delivery alone;
    ``merge(standing, delta)`` folds it (sum/max — the sketch's
    pinned shard algebra). Returns ``(query, state, fold)`` with the
    standing frame at ``state[state_key]``.
    """
    state: dict = {state_key: None, "last_batch_id": None}
    sink = sink or (lambda _df, _batch_id: None)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if _redelivered(state, batch_id):
            return
        delta = build_delta(batch_df)
        standing = state[state_key]
        _commit_fold(
            state,
            state_key,
            batch_id,
            delta if standing is None else merge(standing, delta),
            lambda new_frame: sink(new_frame, batch_id),
        )

    query = (
        stream.writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .start()
    )
    return query, state, _fold


def _redelivered(state: dict, batch_id: int) -> bool:
    """The idempotence guard: has this batch_id already committed?"""
    last = state["last_batch_id"]
    return last is not None and batch_id <= last


def _commit_fold(state, state_key, batch_id, merged, deliver) -> None:
    """Checkpoint ``merged`` as the new standing frame and commit it
    sink-first: ``deliver(new_frame)`` runs before the commit; if it
    raises, the new checkpoint is released and the state is unchanged.
    The previous frame is released only after the commit."""
    from .. import cache

    prev = state[state_key]
    new_frame = merged.localCheckpoint(eager=True)
    try:
        deliver(new_frame)
    except BaseException:
        cache.release_frame(new_frame)
        raise
    state[state_key] = new_frame
    state["last_batch_id"] = batch_id
    if prev is not None:
        cache.release_frame(prev)


def dsir_model_cms_stream(
    spark: SparkSession,
    docs_path: str,
    target_source: str,
    sink=None,
    *,
    n: int = 2,
    max_files_per_trigger: int = 1,
):
    """Incremental CMS model UPDATE — the fit-side twin of
    :func:`dsir_score_cms_stream` (which serves a model fit once):
    each ingest micro-batch fits ``curation.dsir_model_cms`` on the
    delivery alone and element-wise-sums it into the standing sketch.
    The merge is exact, not approximate: shard-sum ≡ refit-on-union
    is the sketch's pinned algebra (``tests/test_dsir_cms.py``
    ``test_cms_model_merges_across_shards`` — same md5 hash placement,
    counter addition), so after any prefix of deliveries the standing
    sketch IS the batch sketch of the concatenated prefix, bit for
    bit. This completes the 100-TB daily-ingest story for the DSIR
    tier the way ``dedup_admit_incremental`` (q86) did for exact
    dedup: the state is the model itself — FIXED at ≤ 3·65536 rows
    whatever the corpus — carried as a localCheckpoint'd frame
    rebuilt (previous checkpoint released) per batch, so state never
    grows a union chain and never scales with gram cardinality.

    ``sink(model_df, batch_id)`` (optional) receives the updated
    standing sketch after each delivery. The frame is checkpoint-
    backed and is RELEASED when the next delivery folds over it, so
    the sink must fully CONSUME it inside the callback (collect it,
    write it, or copy it into a broadcast) — a retained DataFrame
    handle is dead one batch later (missing blocks, no recompute
    path: lineage was truncated, which is the point of the
    checkpoint). The final sketch is read from
    ``query.dsirModelState["cms"]`` after ``awaitTermination``;
    release it with ``cache.release_frame`` when done (same caveat).

    Returns the started StreamingQuery (availableNow trigger).
    """
    from ..operators.curation import dsir_model_cms

    stream = _docs_stream(
        spark, docs_path, max_files_per_trigger=max_files_per_trigger
    )
    query, state, _fold = _incremental_fold_stream(
        stream,
        "cms",
        lambda batch_df: dsir_model_cms(
            batch_df, "text", "source", target_source, n=n
        ),
        lambda standing, delta: standing.unionByName(delta)
        .groupBy("row_idx", "col_idx")
        .agg(
            F.sum("_t").cast("long").alias("_t"),
            F.sum("_r").cast("long").alias("_r"),
        ),
        sink,
    )
    query.dsirModelState = state
    # exposed so tests can simulate an at-least-once redelivery (same
    # batch_id re-entering _fold) without a real query restart
    query.dsirModelFold = _fold
    return query


def hll_register_stream(
    spark: SparkSession,
    events_path: str,
    group_cols: list[str] | None = None,
    sink=None,
    *,
    value_col: str = "user_id",
    max_files_per_trigger: int = 1,
):
    """Incremental PORTABLE-HLL register update — the streaming twin
    of q110's shard union (plans/extended2.py): each event
    micro-batch builds its own register table
    (``sketches.hll_registers``) and max-merges it into the standing
    one (``hll_merge_registers``). Merge ≡ refit is the sketch's
    pinned algebra, so after any prefix of deliveries the standing
    registers ARE the batch registers of the concatenated prefix, bit
    for bit — and estimates finalized from them
    (``hll_estimate_registers``) hash-match the batch q110 path,
    small-range correction included. Contrast with
    :func:`windowed_distinct_stream`, which uses Spark's native
    HLL++ inside the state store: this twin keeps the register table
    as an EXPLICIT frame — ≤ groups × 32 rows whatever the stream
    length — so it can be snapshotted, persisted, and oracle-checked
    like any other table.

    Same delivery contract as :func:`dsir_model_cms_stream`:
    ``sink(regs_df, batch_id)`` must consume its frame inside the
    callback; sink runs BEFORE state commits, so a sink failure
    leaves the batch re-foldable on redelivery; final registers at
    ``query.hllRegisterState["regs"]`` (release via
    ``cache.release_frame``). Returns the started StreamingQuery
    (availableNow trigger).
    """
    from ..operators.sketches import hll_merge_registers, hll_registers

    gcols = list(group_cols) if group_cols is not None else ["event_type"]
    stream = _read_events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    query, state, _fold = _incremental_fold_stream(
        stream,
        "regs",
        lambda batch_df: hll_registers(batch_df, gcols, value_col),
        lambda standing, delta: hll_merge_registers(
            standing.unionByName(delta), gcols
        ),
        sink,
    )
    query.hllRegisterState = state
    query.hllRegisterFold = _fold
    return query


def hdr_histogram_stream(
    spark: SparkSession,
    events_path: str,
    value_expr: str,
    group_cols: list[str] | None = None,
    sink=None,
    *,
    max_files_per_trigger: int = 1,
):
    """Incremental HDR-histogram fold — the quantile-tier twin of
    :func:`hll_register_stream`: each event micro-batch is bucketed
    by ``sketches.hdr_histogram`` and SUM-merged into the standing
    per-group histogram. Sum-merge ≡ refit is the sketch's pinned
    algebra (tests), so after any prefix of deliveries the standing
    histogram IS the batch fit of the concatenated prefix, bit for
    bit — and rank-window quantiles computed over it (a few dozen
    rows per group) match the batch q109 path. State is bounded at
    groups × ~1k bucket rows whatever the stream length.

    ``value_expr`` is a SQL expression over the event columns
    producing the non-negative int64 measure (e.g.
    ``"CAST(ROUND(value * 100) AS BIGINT)"``). Delivery contract as
    :func:`dsir_model_cms_stream`: sink-first commit ordering,
    redelivery idempotence; final histogram at
    ``query.hdrHistogramState["hist"]``.
    """
    from ..operators.sketches import hdr_histogram, hdr_merge_histograms

    gcols = list(group_cols) if group_cols is not None else ["event_type"]
    stream = _read_events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    query, state, _fold = _incremental_fold_stream(
        stream,
        "hist",
        lambda batch_df: hdr_histogram(
            batch_df.selectExpr(*gcols, f"{value_expr} AS _hdr_in"),
            "_hdr_in",
            gcols,
        ),
        lambda standing, delta: hdr_merge_histograms(
            standing.unionByName(delta), gcols
        ),
        sink,
    )
    query.hdrHistogramState = state
    query.hdrHistogramFold = _fold
    return query


def semantic_decontam_stream(
    spark: SparkSession,
    docs_path: str,
    bench_vectors: DataFrame,
    sink,
    *,
    vec_col: str = "vector",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    dim: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Streaming twin of ``curation.semantic_decontamination`` — the
    embedding-tier ingest gate: each document delivery is hash-embedded
    (map-only, ``functions.embedder.embed``) and scanned against the
    PINNED benchmark vectors (one broadcast GEMM per batch, the exact
    batch operator unchanged). Entirely stateless like
    ``ingest_gate_stream``: no watermark, no state store — the only
    standing object is the benchmark frame, persisted here so its
    lineage is not re-run per delivery (released via
    ``query.benchHandle`` after ``awaitTermination``). Parity with the
    batch composition (embed → decontaminate) is row-for-row by
    construction and asserted shard-for-shard in tests.

    ``bench_vectors``: ``[<any id>, <vec_col>]`` — already-embedded
    benchmark rows (the eval set is embedded once, offline).
    ``sink(df, batch_id)`` receives
    ``[<id_col>, n_bench_hits, contaminated]`` per delivery and must
    materialize it inside the callback.
    """
    from ..functions.embedder import DEFAULT_DIM, embed
    from ..operators.curation import semantic_decontamination

    bench_vectors = bench_vectors.persist()
    d = dim or DEFAULT_DIM
    return _per_batch_stream(
        _docs_stream(
            spark, docs_path, max_files_per_trigger=max_files_per_trigger
        ),
        lambda batch_df, _: semantic_decontamination(
            embed(batch_df.select(id_col, "text"), "text", vec_col, d),
            bench_vectors, vec_col, id_col, threshold=threshold,
        ),
        sink,
        benchHandle=bench_vectors,
    )


def ngram_novelty_stream(
    spark: SparkSession,
    docs_path: str,
    sink,
    *,
    l: int = 8,
    max_files_per_trigger: int = 1,
    sketch: bool = False,
):
    """Streaming twin of ``ngram_novelty``: per-doc gram novelty
    against a STANDING first-owner set that accumulates across ingest
    micro-batches — the production shape of the marginal-signal curve
    (each delivery is scored against everything already ingested,
    without ever re-reading the standing corpus; the q86 admission
    pattern applied to grams instead of digests).

    A gram is novel for doc ``d`` iff no prior batch contains it AND
    ``d`` is the minimum id holding it within its own batch — which
    equals the batch operator run over the concatenated corpus
    whenever deliveries append with increasing doc_ids (the same CDC
    invariant ``dedup_admit_incremental`` documents; parity asserted
    in tests shard-for-shard).

    State with ``sketch=False`` is the standing gram set, carried as
    a localCheckpoint'd ids-only frame rebuilt (old checkpoint
    released) per batch — linear in distinct grams seen, the honest
    cost of exact first-owner attribution. ``sketch=True`` folds each
    batch's grams into the portable 8 KiB Bloom bitmap instead
    (q75's decontamination device, ``bit_or``-merged per batch):
    CONSTANT state at any corpus size, one-sided error — a Bloom
    false positive marks a genuinely-novel gram as seen, so sketch
    ``n_novel`` is a LOWER bound on the exact value (never an
    overcount; ``n_grams`` is exact either way) — the right direction
    for a mined-out gate, which acts on LOW novelty.
    ``sink(df, batch_id)`` must materialize what it is given.

    Delivery contract as :func:`_incremental_fold_stream`: a
    redelivered batch_id is skipped (its grams are already in the
    standing set, so re-scoring it would report them all as seen),
    and the sink runs BEFORE the new standing set commits, so a sink
    failure leaves the batch re-scorable on redelivery. The final set
    is at ``query.ngramNoveltyState["owners"]`` (release via
    ``cache.release_frame``); ``query.ngramNoveltyFold`` is the
    per-batch callback.

    Returns the started StreamingQuery (availableNow trigger).
    """
    from .. import cache
    from ..operators.dedup import _gram_occurrences

    stream = _docs_stream(
        spark, docs_path, max_files_per_trigger=max_files_per_trigger
    )
    state: dict = {"owners": None, "last_batch_id": None}

    def _seen_marks(grams: DataFrame) -> DataFrame:
        """``[gram, _seen]`` for this batch's distinct grams, from
        whichever standing structure is configured."""
        if state["owners"] is None:
            return grams.withColumn("_seen", F.lit(True)).limit(0)
        if sketch:
            from ..operators.sketches import bloom_suspects

            return bloom_suspects(
                grams, state["owners"], "gram"
            ).withColumn("_seen", F.lit(True))
        return state["owners"].withColumn("_seen", F.lit(True))

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if _redelivered(state, batch_id):
            return
        base, per_pos = _gram_occurrences(batch_df, "text", "doc_id", l)
        bmin = per_pos.groupBy("gram").agg(F.min("doc_id").alias("_bmin"))
        scored = per_pos.join(bmin, "gram").join(
            _seen_marks(bmin.select("gram")), "gram", "left"
        )
        per_doc = scored.groupBy("doc_id").agg(
            F.sum("_c").alias("n_grams"),
            F.sum(
                F.when(
                    F.col("_seen").isNull()
                    & (F.col("_bmin") == F.col("doc_id")),
                    F.col("_c"),
                ).otherwise(F.lit(0))
            ).alias("n_novel"),
        )
        out = (
            base.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
                F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
                F.expr(
                    "coalesce(n_novel, 0) * 10000 div "
                    "greatest(coalesce(n_grams, 0), 1)"
                )
                .cast("long")
                .alias("novelty_e4"),
                F.lit(batch_id).alias("batch_id"),
            )
        )
        try:
            # fold this batch's grams into the standing structure; the
            # checkpoint truncates lineage so state does not grow a
            # union chain across batches
            new_grams = bmin.select("gram")
            if sketch:
                from ..operators.sketches import bloom_build

                words = bloom_build(new_grams, "gram")
                merged = (
                    state["owners"].unionAll(words)
                    .groupBy("word_idx")
                    .agg(F.expr("bit_or(word)").alias("word"))
                    if state["owners"] is not None
                    else words
                )
            else:
                merged = (
                    state["owners"].select("gram")
                    .unionAll(new_grams)
                    .distinct()
                    if state["owners"] is not None
                    else new_grams
                )
            # the sink reads the standing set the commit replaces
            _commit_fold(
                state, "owners", batch_id, merged,
                lambda _new: sink(out, batch_id),
            )
        finally:
            cache.release_frame(per_pos)

    query = (
        stream.writeStream.foreachBatch(_score)
        .trigger(availableNow=True)
        .start()
    )
    query.ngramNoveltyState = state
    query.ngramNoveltyFold = _score
    return query


def _interval_seconds(interval: str) -> int:
    """Parse the gap grammar ``session_window`` accepts — multi-part
    ("1 hour 30 minutes") and common unit aliases — so a gap string
    that works in the streaming twin also works in the batch oracle
    (they must agree on valid inputs to be parity-checkable)."""
    mult = {
        "sec": 1, "secs": 1, "second": 1, "seconds": 1,
        "min": 60, "mins": 60, "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    }
    parts = interval.split()
    if not parts or len(parts) % 2:
        raise ValueError(f"bad interval {interval!r}")
    total = 0
    for qty, unit in zip(parts[::2], parts[1::2]):
        m = mult.get(unit.lower())
        if m is None:
            raise ValueError(f"bad interval unit {unit!r} in {interval!r}")
        total += int(qty) * m
    return total
