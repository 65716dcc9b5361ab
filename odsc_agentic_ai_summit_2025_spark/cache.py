"""Caller-releasable lifetimes for operator-internal caches.

Several operators ``persist()`` or ``localCheckpoint()`` an
intermediate that BACKS the lazy plan they return (LSH band rows,
ppjoin prefixes, the near-dup input, row-index partition pins). The
operator cannot release those blocks itself — they must survive
until the caller materializes the result — so without help a
long-lived session composing operators (exactly what
``build_curation_pipeline`` does) accumulates executor-memory
residue run over run.

The rule: a frame frees exactly the caches it carries.

- an operator that caches an intermediate calls
  ``own(result, intermediate, ...)`` before returning; a backing
  frame's own handles are inherited, so ownership composes;
- whoever materializes the result calls ``release(result)`` after
  the consuming action, and ``release`` frees ``handles(result)``
  and nothing else (a second call is a no-op).

Ownership is a plain Python attribute on the DataFrame wrapper, so
any ``.select``/``.filter``/``.limit`` yields a frame that owns
nothing: releasing a preview or a derived view can never yank a
live base's caches. Code that reshapes an owning result before
handing it on re-owns it at its return — ``own(x.select(...), x)``.
``tests/test_inventory.py`` holds every registered query to this:
after ``release(result)`` the persistent-RDD census is back at its
pre-query value.

``release`` handles both cache kinds:

- ``persist()`` caches go through ``DataFrame.unpersist()`` (the SQL
  CacheManager);
- ``localCheckpoint`` blocks belong to the RDD inside the returned
  ``LogicalRDD`` node — ``DataFrame.unpersist()`` is a no-op for
  them (verified empirically), so the RDD is unpersisted directly
  via the logical plan.

A non-DataFrame handle (a Broadcast riding a result) is unpersisted
the same way; ``own`` also lists it so ``sweep_blocks`` — which sees
only block-manager RDDs — can drop its executor copies for callers
that sweep instead of releasing.

Generator-orphan convention (r5) — and its multi-consumer hazard:
operators that consume a caller-supplied frame which may itself be a
cached generator output (``triangle_counts``/``pagerank_fixed`` over
a pair list, ``epoch_shards``/``embedding_neardup_pairs`` over a doc
frame) append that INPUT frame to their result's handles, so
``release(result)`` also releases the upstream generator's caches.
That is correct for the single-consumer composition the registry
queries use (each rebuilds its own input), but it means releasing the
FIRST analytics result unpersists a frame the caller may still hold —
and if that input is ``localCheckpoint``-backed (e.g. a
``connected_components`` output reused as a pair list), the shared
frame is DEAD for any second consumer (lineage truncated). When one
input fans out to several consumers, release only after the LAST
consumer materializes, or hand each consumer a plain uncached copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_spark_graft_owned_caches"

# Broadcast handles own() attached and nothing has released yet —
# sweep_blocks' mop-up list (no block census can see a broadcast)
_BROADCASTS: list = []


def own(result: DataFrame, *backing: DataFrame) -> DataFrame:
    """Attach cached frames that back ``result``'s plan (transitively:
    a backing frame's own handles are inherited)."""
    found = list(getattr(result, _ATTR, ()))
    for b in backing:
        found.extend(h for h in getattr(b, _ATTR, ()) if h not in found)
        if b not in found:
            found.append(b)
    setattr(result, _ATTR, found)
    _BROADCASTS.extend(
        h for h in found if not hasattr(h, "_jdf") and h not in _BROADCASTS
    )
    return result


def handles(df: DataFrame) -> tuple[DataFrame, ...]:
    return tuple(getattr(df, _ATTR, ()))


def release_frame(cached: DataFrame) -> None:
    """Release one cached/checkpointed frame's storage, whichever
    kind it is (both calls are safe no-ops on the other kind)."""
    try:
        cached.unpersist()
    except Exception:  # already released / session gone
        pass
    if not hasattr(cached, "_jdf"):  # Broadcast: nothing more to free
        if cached in _BROADCASTS:
            _BROADCASTS.remove(cached)
        return
    try:
        jlp = cached._jdf.logicalPlan()
        if jlp.getClass().getSimpleName() == "LogicalRDD":
            jlp.rdd().unpersist(False)
    except Exception:
        pass


def release(*results: DataFrame) -> None:
    """Release every cache attached to each result (idempotent: the
    attribute is emptied, so a second call frees nothing).

    Semantics after release: a ``persist()``-backed plan simply
    recomputes on next action; a ``localCheckpoint``-backed plan is
    DEAD (lineage was truncated — that is the point of the
    checkpoint), so release only once the result is fully consumed.
    """
    for df in results:
        for h in getattr(df, _ATTR, ()):
            release_frame(h)
        setattr(df, _ATTR, [])


def sweep_blocks(spark, keep: frozenset | set | tuple = ()) -> None:
    """Inter-query hygiene sweep shared by bench.py,
    scripts/profile_query.py and scripts/scale_smoke.py, run between
    ``bench.timed_pass`` calls so it is never inside a timed pass:
    drop every SQL-cached relation, GC Python plan refs, then
    unpersist every surviving block-manager RDD except ids in ``keep``.

    One copy on purpose: the keep-set protection (an eagerly
    localCheckpointed corpus has NO lineage — unpersisting it kills
    every later stage) and the GC-before-census ordering are the two
    subtleties that drifted when each script carried its own sweep.
    Callers drop their own DataFrame refs before calling (the GC here
    only collects refs already released).
    """
    import gc

    spark.catalog.clearCache()
    gc.collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet()):
        if rid not in keep:
            jmap.get(rid).unpersist()
    # Broadcast mop-up: a result swept by blocks rather than by
    # release() may carry a broadcast (the LSH gather-verify matrix, a
    # large gate gram set) no block census sees. Unpersisting drops
    # only the executor copies — a later use re-ships the value — so
    # every listed broadcast is safe to drop here.
    for h in list(_BROADCASTS):
        release_frame(h)


# Driver memory any one driver-side solve (connected components,
# triangles, PageRank, the LSH verify gather) may hold: its collected
# arrays plus the numpy working set built from them.
DRIVER_BUDGET_BYTES = 64 << 20


def fits_driver_budget(footprint_bytes: int, budget_bytes: int) -> bool:
    """True when a solve of this footprint runs on the driver. A
    budget of 0 forces the distributed (reference) path."""
    return budget_bytes > 0 and footprint_bytes <= budget_bytes


def driver_arrays(
    df: DataFrame, footprint_bytes: int, budget_bytes: int
) -> dict | None:
    """``df`` collected as one numpy array per column — an
    ``(n, dim)`` float64 matrix for a list column — or ``None`` when
    the footprint does not fit (take the distributed path). Arrow
    buffers, no Python object per row: a ``collect()`` of 1M edge
    rows took ~90× the time and ~20× the memory."""
    if not fits_driver_budget(footprint_bytes, budget_bytes):
        return None
    import pyarrow as pa

    from .functions import arrowkit as ak

    tbl = df.toArrow()
    return {
        name: ak.fixed_matrix(col)
        if pa.types.is_list(col.type)
        else col.to_numpy()
        for name, col in zip(tbl.column_names, tbl.columns)
    }
