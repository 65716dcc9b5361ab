"""Sources & sinks (SURVEY §2.1, S1-S9).

Reference behaviors re-expressed Spark-first:

- S1 parquet scan   (create_dataset.py:7)        → spark.read.parquet
- S2 JSON scan      (src/build_graph.py:383)     → multiLine JSON + explicit
                    schema (no inference pass — matters at 100 TB)
- S3 JSON sink      (src/baml_extract.py:81)     → df.write.json
- S4 multi-file concat + sort (src/concatenate_json.py:28-72)
                                                 → glob read + orderBy
- S5 deterministic row index (create_dataset.py:8-9)
                                                 → row_number over explicit
                    ordering; NOT monotonically_increasing_id (which is
                    partition-dependent and non-reproducible)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA


def _events_ts_is_nanos(path: str) -> bool:
    """True iff the events file's ``ts`` column is TIMESTAMP(NANOS).

    Footer-only pyarrow read (no row groups touched); glob-safe for a
    directory of parts (checks the first file — one writer, one unit).
    Defaults False on any inspection failure so the normal Spark
    timestamp path handles it (and fails loudly if truly exotic).
    """
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                return False
            target = parts[0]
        t = pq.read_schema(target).field("ts").type
        return getattr(t, "unit", None) == "ns"
    except Exception:
        return False


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with its declared schema.

    Explicit schema means the parquet footer is still consulted for
    column pruning, but logical types are pinned — a 100 TB scan never
    pays inference and drift fails loudly.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across driver data generations, so the unit is
    DETECTED from the parquet footer (a driver-side metadata read —
    no data scan) rather than assumed. NANOS is the one unit Spark
    cannot read as a timestamp: it comes in as a raw long
    (``spark.sql.legacy.parquet.nanosAsLong``) and is converted
    ns → µs with integer arithmetic (no double round-trip, which
    would lose precision at 1e18 ns magnitudes).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_is_nanos(path):
        # Session-scoped by necessity: the conf is consulted when the
        # LAZY scan executes, so save/restore around this call would
        # break the returned frame's later actions. The blast radius
        # is bounded by the engine convention that every read goes
        # through an explicit schema (a nanos column elsewhere still
        # fails its declared type); an out-of-convention schemaless
        # read of another NANOS table after this call would see longs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),  # ns since epoch
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        return (
            spark.read.schema(raw)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    schema = TESTDATA.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame's optimized plan —
    driver-side only (no job; the same analysis/optimization the later
    action reuses). None when the estimate is unavailable or absurd
    (joins without stats default to child-size products)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    # 1 PB guard: an unknown-stats product estimate, not a real size
    if size <= 0 or size > (1 << 50):
        return None
    return size


#: Per-byte CPU cost of a kernel stage, relative to a hash-scale
#: kernel, by kernel class. :func:`ensure_min_partitions` divides its
#: 8 MB split by the class cost. Call sites name a class; they never
#: carry a number of their own.
KERNEL_COST = {
    # hashing, MinHash/SimHash signatures, GEMM: 8 MB splits keep
    # tasks in the 0.1-1 s range on one core
    "hash": 1,
    # tokenize + n-gram build, regex batteries, interpreted per-element
    # folds: ~100x hash scale per byte. Left on one split, the embed,
    # gram and PII stages ran 1.0-2.6 s serial at sf0.1 (r13/r14 stage
    # traces); 128 (about 10 splits there) measured faster than both
    # 1 and full fan-out (r13 q63 quiet min 3.81 s vs 5.53 s and 4.21 s).
    "gram": 128,
    # three LLM-protocol calls per note, or a join that emits
    # quadratically many candidate rows per input byte: extraction
    # measured 26.9 s on one split vs 2.85 s fanned at sf0.1 (r13 A/B),
    # and the SimHash band probe ran 7.3 s in one task
    "heavy": 1000,
}


def ensure_min_partitions(df: DataFrame, *, cost: str = "hash") -> DataFrame:
    """Fan a kernel stage's input out to a scale-appropriate split count.

    Arrow kernels (``mapInPandas`` / pandas UDF stages) inherit the
    upstream split count; a small or single-row-group parquet file
    pins the whole CPU-bound Python stage to ONE core regardless of
    cluster size. At real scale inputs arrive in many splits and this
    is a NO-OP (the partition count is read from the lazy RDD plan —
    no job runs); only an under-split input pays one round-robin
    shuffle, which is narrow data next to the kernel compute it
    unlocks. Kernels here are row-local, so round-robin placement
    cannot change any result.

    The fan-out target is SIZE-ADAPTIVE (optimization guide §2: derive
    partitioning from input size, not a constant tuned for one mode):
    ``ceil(estimated_bytes / (8 MB / KERNEL_COST[cost]))`` splits,
    clamped to ``[1, defaultParallelism]``; an unknown size fans out
    fully. A gate-scale corpus (hundreds of KB) of a hash-scale kernel
    therefore runs in the scan stage itself — no fan-out exchange, no
    per-task Python worker forks beyond the splits the data actually
    warrants (measured r13: a 32-task mapInPandas stage costs ~0.35 s
    more than a right-sized one) — while heavier kernel classes split
    finer, so the fan-out follows the CPU-seconds in the stage at any
    scale.
    """
    cap = df.sparkSession.sparkContext.defaultParallelism
    est = _plan_size_bytes(df)
    if est is None:
        min_parts = cap
    else:
        split_bytes = (8 << 20) // KERNEL_COST[cost]
        min_parts = max(1, min(cap, -(-est // split_bytes)))
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)


def register_testdata(spark: SparkSession, sf_dir: str, tables=None) -> None:
    """Register testdata tables as temp views for the SQL entry points."""
    for name in tables or TESTDATA:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_json_records(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S2: read a JSON file that is one top-level array of objects.

    The reference reads these with ``pl.read_json``
    (src/build_graph.py:383). Spark's JSON source is line-delimited by
    default; the reference files are single-array, so ``multiLine``.
    """
    return spark.read.option("multiLine", True).schema(schema).json(path)


def with_row_index(
    df: DataFrame, order_cols: list[str], name: str = "record_id"
) -> DataFrame:
    """S5: deterministic 1-based dense row index.

    The reference does ``with_row_index(offset=1)`` on the raw corpus
    (create_dataset.py:8-9). A global window is fine for driver-side
    corpus prep; for 100 TB assignments prefer zipWithIndex-style
    per-partition offsets — this helper is the correctness-first path.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(name, F.row_number().over(w))


def with_row_index_distributed(
    df: DataFrame, order_cols: list[str], name: str = "record_id"
) -> DataFrame:
    """The 100 TB form of :func:`with_row_index`: range-partition on
    the order columns, rank locally within each partition, then add
    per-partition offsets — no single-partition window anywhere.

    ``repartitionByRange`` guarantees partition i's keys sort before
    partition i+1's, so local rank + the cumulative count of earlier
    partitions IS the global rank. The offset table is one count per
    partition (a scalar-sized collect) joined back by broadcast.
    ``order_cols`` must be a total order (e.g. include a unique key):
    with duplicate keys a row's index is ambiguous in ANY
    implementation, including the window form.

    Lifetime: the eager ``localCheckpoint`` blocks BACK the returned
    lazy plan, so they cannot be released here. Like the operators
    that ``persist()``, the caches are attached to the result via
    :mod:`..cache` — long-lived sessions should call
    ``cache.release(result)`` (or ``spark.catalog.clearCache()`` +
    RDD unpersist) after materializing; otherwise every call
    accumulates block-manager memory for the session's life.
    """
    part = df.repartitionByRange(*[F.col(c) for c in order_cols])
    # localCheckpoint: the plan is read twice (offsets collect + the
    # final join); pinning it guarantees both reads see the SAME
    # range partitioning even if the input is nondeterministic, and
    # computes the window once instead of twice
    local = (
        part.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(
                    *[F.col(c) for c in order_cols]
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in local.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    # explicit schema: createDataFrame([]) cannot infer one, so the
    # empty-input case would crash
    off = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    from ..cache import own

    return own(
        local.join(F.broadcast(off), "_pid")
        .withColumn(name, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off"),
        local,
    )


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S3: JSON sink (one object per line; coalesce(1) for file parity)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_compacted(
    df: DataFrame,
    path: str,
    *,
    target_mb: int = 256,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Compacting parquet writer — the small-files half of a 100 TB
    pipeline the read path alone can't fix: a shuffle-heavy plan ends
    in ``spark.sql.shuffle.partitions`` output files regardless of
    data volume, so a 10 MB result lands as 200 shards and a 10 TB
    one as 200 lopsided monsters. Sizes the file count from a sampled
    row width (Spark has no write-side ``maxFileBytes`` for plain
    parquet), repartitions to it, and optionally range-sorts WITHIN
    the layout on ``sort_cols`` so parquet row-group min/max stats
    make later range predicates prune files (the poor man's z-order;
    one clustering column family is the common case).

    Returns the file count it chose. Sizing is driver-side estimation
    (count + sample-row encoded width with a 2.5x parquet-compression
    haircut) — deliberately cheap and approximate; the invariant
    tests assert data fidelity, file count scaling, and that a range
    read over the sort column prunes row groups, not byte-exact file
    sizes.

    The input is persisted around the three consumers (count, width
    sample, write) and released afterwards — for the shuffle-heavy
    plans this writer targets, re-running the upstream plan per
    consumer would triple the job. The width sample strips parquet's
    fixed footer/metadata overhead (an empty-frame baseline) so
    narrow schemas don't overshoot ``bytes_per_row`` and shatter the
    output into more, smaller files than ``target_mb`` asks for.
    """
    import math

    from ..cache import release_frame

    df = df.persist()
    try:
        n = df.count()
        if n == 0:
            df.limit(0).write.mode(mode).parquet(path)
            return 1
        sample = df.limit(200).toPandas()
        import io as _io

        buf = _io.BytesIO()
        sample.to_parquet(buf, index=False)
        base = _io.BytesIO()
        sample.iloc[:0].to_parquet(base, index=False)  # footer-only size
        payload = max(
            buf.getbuffer().nbytes - base.getbuffer().nbytes, 0
        )
        bytes_per_row = max(payload / max(len(sample), 1), 1.0)
        est_bytes = n * bytes_per_row / 2.5  # column-compression haircut
        n_files = max(1, math.ceil(est_bytes / (target_mb * 1024 * 1024)))
        if sort_cols:
            out = df.repartitionByRange(
                n_files, *[F.col(c) for c in sort_cols]
            )
            out = out.sortWithinPartitions(*sort_cols)
        else:
            out = df.repartition(n_files)
        out.write.mode(mode).parquet(path)
        return n_files
    finally:
        release_frame(df)
