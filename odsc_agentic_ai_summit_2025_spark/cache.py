"""Caller-releasable lifetimes for operator-internal caches.

Several operators ``persist()`` or ``localCheckpoint()`` an
intermediate that BACKS the lazy plan they return (LSH band rows,
ppjoin prefixes, the near-dup input, row-index partition pins). The
operator cannot release those blocks itself — they must survive
until the caller materializes the result — so without help a
long-lived session composing operators (exactly what
``build_curation_pipeline`` does) accumulates executor-memory
residue run over run.

Convention (round-4, closes the r3 verdict item):

- an operator that caches an intermediate calls
  ``own(result, intermediate, ...)`` before returning;
- whoever materializes the result calls ``release(result)`` after
  the consuming action (composition layers do this per stage; tests
  assert ``sparkContext._jsc.getPersistentRDDs()`` returns to
  baseline).

``release`` handles both cache kinds:

- ``persist()`` caches go through ``DataFrame.unpersist()`` (the SQL
  CacheManager);
- ``localCheckpoint`` blocks belong to the RDD inside the returned
  ``LogicalRDD`` node — ``DataFrame.unpersist()`` is a no-op for
  them (verified empirically), so the RDD is unpersisted directly
  via the logical plan.

Ownership is carried as a plain Python attribute on the DataFrame
wrapper, so the fast path survives only as far as the operator-return
boundary (any ``.select`` produces a fresh wrapper) — which is
exactly the boundary where composition layers hold the reference.
Because one future refactor inserting a ``.select`` between operator
and release would silently leak, ``own`` ALSO records
``(result plan, handles)`` in a module-level registry, and
``release`` falls back to matching the released frame's analyzed
plan against registered RESULT plans — walking down only through
TRANSPARENT single-child wrapper nodes (Project/SubqueryAlias),
i.e. exactly the ``.select``/``.alias``-between-return-and-release
shapes the fallback exists for. A ``.filter()``/``.sort()``/
``.limit()`` view deliberately does NOT match: those are routinely
built as previews of a result the caller still holds, and releasing
a preview must never yank the live base's caches — release the base
frame itself. A frame merely *derived*
from an owned result (an aggregate, a join) does not match, so
releasing it cannot yank a cache another live frame still needs —
``release`` on a frame that owns nothing stays a no-op. Registry
entries are pruned whenever none of their handles still hold
storage, so caches released by any other path (``clearCache``,
direct ``unpersist``) cannot linger as stale match targets.

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

# Marker set on a NON-DataFrame handle (e.g. a Broadcast riding a
# result as its release handle) once release_frame has unpersisted
# it. Such handles expose no storage census API, so _is_live treats
# them as live until this marker appears — without it, _prune would
# drop the registry entry immediately and the wrapper-loss fallback
# could never free the broadcast (r6 ADVICE, cache.py:194).
_RELEASED_ATTR = "_spark_graft_handle_released"

# (analyzed result plan, handles) for every own() call whose handles
# may still hold storage — the wrapper-loss fallback's search space.
# Bounded: _prune() drops entries with no live handle on every
# own()/release().
_REGISTRY: list[tuple[object, list[DataFrame]]] = []

# Wrapper nodes release() may walk THROUGH when matching a released
# frame against registered result plans. Deliberately ONLY the
# column-reshaping wrappers the r4 hazard names (a ``.select`` /
# ``.alias`` between operator return and release): a ``.limit()`` or
# ``.filter()`` view is routinely built as a PREVIEW of a result the
# caller still holds, and releasing such a preview must never yank
# the live base's caches. Anything heavier (Aggregate, Join, Window)
# is a genuinely new result and never matches.
_TRANSPARENT_NODES = {
    "Project",
    "SubqueryAlias",
}


def own(result: DataFrame, *backing: DataFrame) -> DataFrame:
    """Attach cached frames that back ``result``'s plan (transitively:
    a backing frame's own handles are inherited)."""
    found = list(getattr(result, _ATTR, ()))
    for b in backing:
        found.extend(h for h in getattr(b, _ATTR, ()) if h not in found)
        if b not in found:
            found.append(b)
    setattr(result, _ATTR, found)
    try:
        _REGISTRY.append(
            (result._jdf.queryExecution().analyzed(), list(found))
        )
    except Exception:  # unanalyzable result: fast path only
        pass
    _prune()
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
    if not hasattr(cached, "_jdf"):
        # duck-typed non-DataFrame handle (Broadcast): no storage
        # census exists for it, so record the release explicitly —
        # _is_live consults this marker
        try:
            setattr(cached, _RELEASED_ATTR, True)
        except Exception:
            pass
        return
    try:
        jlp = cached._jdf.logicalPlan()
        if jlp.getClass().getSimpleName() == "LogicalRDD":
            jlp.rdd().unpersist(False)
    except Exception:
        pass


def release(*results: DataFrame) -> None:
    """Release every cache attached to each result (idempotent).

    Semantics after release: a ``persist()``-backed plan simply
    recomputes on next action; a ``localCheckpoint``-backed plan is
    DEAD (lineage was truncated — that is the point of the
    checkpoint), so release only once the result is fully consumed.
    """
    for df in results:
        # hasattr (not truthiness): an EMPTY attribute marks a frame
        # already released (or owning nothing by construction) — the
        # fallback must not run again for it, or a second release of
        # the same wrapper could sameResult-match a LATER identical
        # plan and free a live twin's caches.
        if hasattr(df, _ATTR):
            hs = list(getattr(df, _ATTR))
        else:
            hs = _find_registered(df)
        for h in hs:
            release_frame(h)
        setattr(df, _ATTR, [])
    _prune()


def _find_registered(df: DataFrame) -> list[DataFrame]:
    """Wrapper-loss fallback: the released frame's analyzed plan,
    stripped of transparent column-reshaping wrappers, ``sameResult``-
    matched against registered RESULT plans. A ``.select``/``.alias``
    between operator return and release sheds the ownership attribute
    but leaves the result plan reachable through wrapper nodes; a
    frame that merely *contains* an owned result deeper in its plan
    (a limit/filter preview, an aggregate, a join) must not match —
    releasing it would drop caches a live frame shares. The matched
    entry is CONSUMED (removed from the registry), so one own() entry
    can satisfy at most one fallback release."""
    if not _REGISTRY:
        return []
    try:
        node = df._jdf.queryExecution().analyzed()
    except Exception:
        return []
    for _ in range(64):
        for i, (rplan, hs) in enumerate(_REGISTRY):
            try:
                if node.sameResult(rplan):
                    del _REGISTRY[i]
                    return list(hs)
            except Exception:
                continue
        try:
            if node.getClass().getSimpleName() not in _TRANSPARENT_NODES:
                break
            ch = node.children()
            if ch.size() != 1:
                break
            node = ch.apply(0)
        except Exception:
            break
    return []


def _is_live(h: DataFrame) -> bool:
    """Does this handle still hold storage (CacheManager entry or a
    persisted localCheckpoint RDD)? Non-DataFrame handles (a
    Broadcast riding a result) expose no census API — they count as
    live until release_frame stamps them released, so the registry
    entry that would free them through the wrapper-loss fallback
    survives pruning."""
    if not hasattr(h, "_jdf"):
        return hasattr(h, "unpersist") and not getattr(
            h, _RELEASED_ATTR, False
        )
    try:
        lvl = h.storageLevel
        if lvl.useMemory or lvl.useDisk:
            return True
    except Exception:
        pass
    try:
        jlp = h._jdf.logicalPlan()
        if jlp.getClass().getSimpleName() == "LogicalRDD":
            sl = jlp.rdd().getStorageLevel()
            return bool(sl.useMemory() or sl.useDisk())
    except Exception:
        pass
    return False


def _prune() -> None:
    """Drop registry entries none of whose handles hold storage —
    released here, via clearCache(), direct unpersist(), or session
    teardown. Keeps the fallback search space bounded and prevents a
    dead entry's plan from ever matching a future identical plan."""
    _REGISTRY[:] = [
        (p, hs) for p, hs in _REGISTRY if any(_is_live(h) for h in hs)
    ]


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
    # Broadcast mop-up (r14): a result swept by blocks rather than by
    # release() may carry a non-DataFrame handle (a Broadcast riding
    # it — the LSH gather-verify matrix, a large gate gram set) that
    # no block census can see; once none of an entry's DataFrame
    # handles hold storage, its broadcasts back nothing reachable and
    # are released here so bench-style sweep-only callers cannot
    # accumulate executor-side broadcast copies (or registry entries)
    # across queries. Entries with a live kept frame are untouched.
    for _p, hs in list(_REGISTRY):
        if not any(_is_live(h) for h in hs if hasattr(h, "_jdf")):
            for h in hs:
                if not hasattr(h, "_jdf"):
                    release_frame(h)
    _prune()


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
