"""Connected components over duplicate-pair edges (dedup clustering).

Pair generators (exact sha groups, Jaccard, MinHash-LSH, embedding
near-dup) emit EDGES; deduplication needs the transitive CLUSTERS —
"keep one document per component". This is the step between "found
339 near-dup pairs" and an actual keep/drop decision list.

Two paths, one contract ([id, cluster_id] with cluster_id = the
minimum id reachable from id):

- **driver solve** (graphs under ``DRIVER_BUDGET_BYTES``): the
  distinct edge list is collected and labeled by vectorized numpy
  min-label propagation + pointer jumping in one pass.
- **large-star/small-star** (Kiveris et al., "Connected Components
  in MapReduce and Beyond"), the distributed reference: alternating
  rounds that re-point edges at per-NODE minima — every shuffle key
  is a vertex id with the graph's own degree distribution, never a
  component label, so a giant component has no hot key beyond its
  (AQE-splittable) hub degrees. O(log² n) rounds worst case, and
  its convergence does not depend on how ids are ordered along a
  component.

Every round localCheckpoints its state (lineage truncation — an
uncut plan tree doubles per iteration and the driver OOMs on plan
analysis long before data is a problem) and RELEASES the previous
round's blocks once the new round is materialized, so a session
running many clusterings holds at most two rounds of edge state at
any time.

Determinism: labels are ids and every step is a min — the fixpoint
is the component-minimum id regardless of partitioning or round
interleaving, so the output is oracle-checkable (DuckDB recursive
CTE computes the same min-reachable-id closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import DRIVER_BUDGET_BYTES, driver_arrays, fits_driver_budget
from ..cache import own, release_frame

# Driver bytes per collected edge row of the graph solves: 16 B of
# endpoints plus the numpy working arrays (tracemalloc peaks 98-115 B
# per row on random, dense and dedup-shaped graphs); triangles add
# their wedge expansion (60-68 B per wedge measured).
_EDGE_ROW_BYTES = 16 + 120
_WEDGE_BYTES = 68

# Large/small-star round budget: each round is one (large, small)
# pair. A graph still short of the edge-set fixpoint after this many
# rounds raises rather than return under-merged labels (see the
# edge-consistency check in _star_components).
_STAR_ROUNDS = 50


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    driver_budget_bytes: int = DRIVER_BUDGET_BYTES,
) -> DataFrame:
    """[a, b] edge pairs → [id, cluster_id] with cluster_id = the
    minimum id reachable from ``id``.

    ``vertices`` (optional, one ``id_col`` column) adds isolated
    nodes — they come back as their own singleton clusters. The
    returned frame carries its backing checkpoint via :mod:`..cache`
    — call ``cache.release(result)`` after the consuming action in
    long-lived sessions.

    ``driver_budget_bytes`` (0 forces the distributed path): when the
    DISTINCT symmetric edge set's footprint (``_EDGE_ROW_BYTES`` per
    row) fits, the component labels are solved on the driver in one
    vectorized numpy pass over the collected edge list — the same
    decision a planner makes when it broadcasts a small join side
    (guide §1.2: choose the algorithm by the data). The dedup graphs
    this operator sees are post-shuffle CANDIDATE graphs — bounded by
    banding/trim guards, orders of magnitude smaller than the corpus
    — so even at 100 TB they are usually driver-sized, and each
    distributed round costs job barriers whose driver-side latency
    dominates at any scale. Graphs over the budget run
    large-star/small-star, the distributed reference the driver
    solve is property-tested against. Either way the edge list is
    persisted and evaluated exactly once; the star path releases it
    on every exit, a raise included.
    """
    # symmetrize with ONE scan of `pairs` (explode both orientations
    # per row), not a self-union: the pair list is usually an
    # UNPERSISTED generator (the MinHash bucket join, a Jaccard
    # prefix-filter join), and a union's two legs re-run it twice
    # during the edge persist's first materialization (r8 profile:
    # the second scan was ~40% of the composed q100 pipeline's
    # components phase)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    nodes = edges.select(F.col("src").alias(id_col)).distinct()
    if vertices is not None:
        nodes = nodes.unionByName(
            vertices.select(F.col(id_col))
        ).distinct()
    edges = edges.persist()
    # the count materializes the persist both paths read (the
    # generator runs exactly once either way); the collect then reads
    # cached blocks
    arrays = driver_arrays(
        edges, edges.count() * _EDGE_ROW_BYTES, driver_budget_bytes
    )
    if arrays is not None:
        out = _driver_components(arrays, edges, nodes, id_col)
        # the edge cache backs the output plan's `nodes` scan — it
        # rides the result and frees with cache.release
        return own(out, edges, pairs)
    try:
        # pairs rides along so a caller-supplied generator's own
        # caches (e.g. a jaccard_pairs prefix persist) release with
        # the result (the r5 generator-orphan convention)
        return own(_star_components(edges, nodes, id_col), pairs)
    finally:
        # the star result is an eager checkpoint: nothing it returns
        # reads the edge cache
        edges.unpersist()


def _driver_components(
    arrays: dict, edges: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Driver-solved components for a bounded DISTINCT edge list:
    over its collected endpoint arrays, run vectorized min-label
    propagation + full pointer-jump compression over index-compressed
    numpy arrays, and LEFT-join the resulting (endpoint, min-id)
    table back onto the vertex set — isolated vertices keep their own
    id. Only edge ENDPOINTS ever reach the driver; the vertex set
    (corpus-sized at scale) stays distributed, so the output plan is
    lazy and vertex-sized.

    Exactness: labels are index positions into the SORTED unique
    endpoint array, so min over labels == min over ids; propagation
    is a monotone decreasing fixpoint — the same component-minimum
    large-star/small-star and the DuckDB recursive CTE compute.
    """
    import numpy as np

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType.simpleString()
    small_schema = f"{id_col} {id_type}, cluster_id {id_type}"
    src, dst = arrays["src"], arrays["dst"]
    if len(src):
        uniq, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s, d = inv[: len(src)], inv[len(src):]
        lab = np.arange(len(uniq), dtype=np.int64)
        while True:
            prev = lab
            nm = lab.copy()
            # edges are already symmetric (both orientations present)
            np.minimum.at(nm, d, lab[s])
            while True:  # pointer-jump to a rooted forest
                j = nm[nm]
                if np.array_equal(j, nm):
                    break
                nm = j
            if np.array_equal(nm, prev):
                break
            lab = nm
        # emit via pandas: near the budget the endpoint table is
        # ~10^5 rows, and the Arrow path (enabled in the engine
        # session) ships the two int64 buffers directly instead of
        # serializing one Python tuple per row
        import pandas as pd

        labeled = spark.createDataFrame(
            pd.DataFrame({id_col: uniq, "cluster_id": uniq[lab]}),
            small_schema,
        )
    else:
        labeled = spark.createDataFrame([], small_schema)
    return nodes.join(
        F.broadcast(labeled.withColumnRenamed("cluster_id", "_cc")),
        id_col,
        "left",
    ).select(
        id_col, F.coalesce("_cc", F.col(id_col)).alias("cluster_id")
    )


def _star_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014).

    State is an oriented edge set (child > parent). Each round:

    - **large-star**: group the UNDIRECTED neighborhoods by node u,
      m = min(N(u) ∪ {u}); re-point every strictly larger neighbor
      at m: emit (v, m) for v ∈ N(u), v > u.
    - **small-star**: orient edges (hi → lo), group by hi,
      m = min(N); re-point hi and all its smaller neighbors at m:
      emit (hi, m) and (v, m) for v ∈ N \\ {m}.

    Both emit strictly (child > parent) pairs, shrink the potential
    Σ parent monotonically, and shuffle only on VERTEX ids — a giant
    component never concentrates a reduce key the way a shared
    cluster label does (its hub degrees are ordinary join skew,
    which AQE splits). Fixpoint = the edge set is unchanged; the
    state is then a star per component rooted at its minimum.
    """
    # lazy checkpoints throughout: the count right after each one is
    # its materializing action — 1 job per round's state, not 2
    state = (
        edges.where(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("c"), F.col("dst").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_n = state.count()
    converged = False
    for _ in range(_STAR_ROUNDS):
        # ---- large-star ----
        nbr = state.select("c", "p").unionAll(
            state.select(F.col("p").alias("c"), F.col("c").alias("p"))
        )  # (u=c, v=p) both directions; per-node neighborhoods
        mins = nbr.groupBy("c").agg(F.min("p").alias("_mn"))
        big = (
            nbr.join(mins, "c")
            .where(F.col("p") > F.col("c"))
            .select(
                F.col("p").alias("c"),
                F.least(F.col("_mn"), F.col("c")).alias("p"),
            )
        )
        # ---- small-star (on the large-star output) ----
        oriented = big.where(F.col("c") != F.col("p")).distinct()
        smins = oriented.groupBy("c").agg(F.min("p").alias("_m"))
        joined = oriented.join(smins, "c")
        new_state = (
            joined.where(F.col("p") != F.col("_m"))
            .select(F.col("p").alias("c"), F.col("_m").alias("p"))
            .unionAll(smins.select("c", F.col("_m").alias("p")))
            .where(F.col("c") != F.col("p"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n = new_state.count()
        # exact set-equality fixpoint: equal cardinality + one-sided
        # containment (left_anti empty) ⇒ identical edge sets
        if n == prev_n and new_state.join(
            state, ["c", "p"], "left_anti"
        ).isEmpty():
            release_frame(state)
            state = new_state
            converged = True
            break
        release_frame(state)
        state = new_state
        prev_n = n
    # at fixpoint the state is a star per component: child → root.
    # Min-agg in case the loop exhausted its budget one round short
    # of a perfect star (parents only ever decrease, so min is still
    # the best-known root) — validated below in that case.
    parent = state.groupBy("c").agg(F.min("p").alias("_root"))
    out = (
        nodes.join(parent.withColumnRenamed("c", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("_root", F.col(id_col)).alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    release_frame(state)
    if not converged:
        # Budget exhausted before the edge-set fixpoint. The labels
        # are often exact anyway (they stabilize before the oriented
        # edges do), but cluster_id is contractually the component
        # MINIMUM, and silently returning an under-merged labeling
        # would split dedup clusters. Edge-consistency proves
        # exactness here: parents strictly decrease and stay inside
        # their component, so if both endpoints of every edge share a
        # label, each component carries one label L that the
        # component's minimum node also carries — forcing L = min.
        la = out.select(F.col(id_col).alias("_s"), F.col("cluster_id").alias("_ls"))
        lb = out.select(F.col(id_col).alias("_d"), F.col("cluster_id").alias("_ld"))
        split_edge = (
            edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
            .join(la, "_s")
            .join(lb, "_d")
            .where(F.col("_ls") != F.col("_ld"))
        )
        if not split_edge.isEmpty():
            release_frame(out)
            raise RuntimeError(
                "connected_components: no fixpoint after "
                f"{_STAR_ROUNDS} large/small-star rounds and the "
                "partial labels under-merge"
            )
    return own(out, out)


def dedup_decisions(
    components: DataFrame, id_col: str = "id"
) -> DataFrame:
    """[id, cluster_id] → add ``keep`` (true for the cluster minimum —
    the deterministic survivor) and ``cluster_size``.

    Shape: groupBy-aggregate + join back, NOT a window over
    ``cluster_id`` — a window packs every row of a cluster into ONE
    task, so a giant dedup cluster (the topology large-star/small-star
    keeps free of hot keys) serializes on a single core. The aggregate
    partial-combines map-side regardless of skew, the per-cluster
    stats table is tiny (one row per cluster), and AQE can split the
    skewed probe side of the join — none of which a window partition
    allows (r4; same hot-key reasoning as the star variant)."""
    stats = components.groupBy("cluster_id").agg(
        F.min(id_col).alias("_min_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return own(
        components.join(stats, "cluster_id").select(
            id_col,
            "cluster_id",
            (F.col(id_col) == F.col("_min_id")).alias("keep"),
            "cluster_size",
        ),
        components,
    )


def quality_representatives(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "quality_e4",
) -> DataFrame:
    """``[id, cluster_id] ⋈ [id, score]`` → per-doc keep/drop where
    the survivor is the cluster's argmax on ``(score, then min id)``
    — the quality-aware variant of :func:`dedup_decisions`. Real
    fuzzy-dedup pipelines keep the BEST near-duplicate (the cleanest
    crawl of a page, the highest-quality revision), not the first-by-
    id one; composing components with a quality table makes that
    policy a one-join step.

    Deterministic: ``max_by`` on the struct ``(score, -id)`` is a
    total order (ids unique), so ties on score keep the smallest id.
    Same groupBy-aggregate + join-back shape as ``dedup_decisions``
    (NO window over ``cluster_id``) for the same giant-cluster skew
    reasons: the per-cluster stats table partial-combines map-side
    and stays one row per cluster.

    The score table may be PARTIAL (scores joined LEFT): every
    component member keeps its row — a missing score must not
    silently drop a doc from the keep/drop table or deflate
    ``cluster_size`` — unscored members just can't win (``max_by``
    skips null orderings); a cluster with NO scored member falls
    back to the ``dedup_decisions`` min-id survivor.

    Output: ``[id, cluster_id, <score_col>, keep, cluster_size]``
    (``score_col`` null for unscored members).
    """
    labeled = components.join(scores, id_col, "left")
    stats = labeled.groupBy("cluster_id").agg(
        F.coalesce(
            F.max_by(
                id_col,
                F.when(
                    F.col(score_col).isNotNull(),
                    F.struct(F.col(score_col), (-F.col(id_col)).alias("_n")),
                ),
            ),
            F.min(id_col),
        ).alias("_rep"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return own(
        labeled.join(stats, "cluster_id").select(
            id_col,
            "cluster_id",
            score_col,
            (F.col(id_col) == F.col("_rep")).alias("keep"),
            "cluster_size",
        ),
        components,
    )


def _driver_triangle_counts(
    arrays: dict, nodes: DataFrame, budget_bytes: int
) -> DataFrame | None:
    """Driver-solved per-vertex triangle counts for a bounded pair
    list: an ENTRY-level numpy replication of the distributed
    degree-ordered wedge join — same multiset-degree orientation,
    same strict ``(deg, id)`` wedge ordering, same closing-edge
    multiplicity semantics — so the counts are identical for any
    input the distributed plan accepts (duplicate pairs and
    self-loops included). Only edge ENDPOINTS reach the driver; the
    vertex set stays distributed and the output plan is lazy and
    vertex-sized (broadcast LEFT-join back, zero-fill).

    Returns ``None`` when the edge arrays plus the wedge working set
    (Σ per-source out-pairs, ``_WEDGE_BYTES`` each) exceed
    ``budget_bytes`` — the signal that the quadratic wedge expansion
    wants the distributed join after all.
    """
    import numpy as np
    import pandas as pd

    spark = nodes.sparkSession
    id_type = nodes.schema["id"].dataType.simpleString()
    small_schema = f"id {id_type}, n_triangles long"
    a, b = arrays["a"], arrays["b"]
    m = len(a)
    if m:
        uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ai, bi = inv[:m], inv[m:]
        nv = len(uniq)
        # multiset degree over both endpoints (the distributed deg
        # table counts duplicate pair rows too)
        deg = np.bincount(ai, minlength=nv) + np.bincount(bi, minlength=nv)
        # orient each entry from its lower-(deg, id) endpoint; uniq is
        # sorted, so index order == id order
        lower_first = (deg[ai] < deg[bi]) | (
            (deg[ai] == deg[bi]) & (ai < bi)
        )
        src = np.where(lower_first, ai, bi)
        dst = np.where(lower_first, bi, ai)
        # sort entries by (src, rank(dst)) with rank = (deg, id): a
        # group's sorted order makes every in-order entry pair satisfy
        # rank_i <= rank_j, and rank ties are exactly dst ties
        order = np.lexsort((dst, deg[dst], src))
        src, dst = src[order], dst[order]
        change = np.empty(m, dtype=bool)
        change[0] = True
        change[1:] = src[1:] != src[:-1]
        gstart = np.maximum.accumulate(
            np.where(change, np.arange(m), 0)
        )
        loc = np.arange(m) - gstart  # 0-based index within the group
        W = int(loc.sum())  # Σ k·(k−1)/2 over groups
        if not fits_driver_budget(
            m * _EDGE_ROW_BYTES + W * _WEDGE_BYTES, budget_bytes
        ):
            return None
        if W:
            cum = np.concatenate(([0], np.cumsum(loc)))
            j_idx = np.repeat(np.arange(m), loc)
            i_idx = np.arange(W) - cum[j_idx] + gstart[j_idx]
            v, w = dst[i_idx], dst[j_idx]
            u = src[j_idx]
            strict = v != w  # rank_i < rank_j ⟺ dst differs
            u, v, w = u[strict], v[strict], w[strict]
            # closing-edge multiplicity: each matching oriented entry
            # closes the wedge once (the distributed join multiplies)
            ekeys = np.sort(src.astype(np.int64) * nv + dst)
            wkeys = v.astype(np.int64) * nv + w
            c = np.searchsorted(ekeys, wkeys, side="right") - (
                np.searchsorted(ekeys, wkeys, side="left")
            )
            closed = c > 0
            c = c[closed]
            n_tri = np.zeros(nv, dtype=np.int64)
            np.add.at(n_tri, u[closed], c)
            np.add.at(n_tri, v[closed], c)
            np.add.at(n_tri, w[closed], c)
        else:
            n_tri = np.zeros(nv, dtype=np.int64)
        nz = n_tri > 0
        labeled = spark.createDataFrame(
            pd.DataFrame({"id": uniq[nz], "n_triangles": n_tri[nz]}),
            small_schema,
        )
    else:
        labeled = spark.createDataFrame([], small_schema)
    return nodes.join(
        F.broadcast(labeled.withColumnRenamed("n_triangles", "_nt")),
        "id",
        "left",
    ).select(
        "id",
        F.coalesce("_nt", F.lit(0)).cast("long").alias("n_triangles"),
    )


def triangle_counts(
    pairs: DataFrame,
    vertices: DataFrame,
    driver_budget_bytes: int = DRIVER_BUDGET_BYTES,
) -> DataFrame:
    """Per-vertex triangle participation over an undirected pair list
    (``a_id < b_id``) — the clustering-coefficient numerator, and for
    a near-dup graph a direct "mutually-similar triple" detector.

    Shape: degree-oriented wedge join (the standard at-scale
    formulation). Each undirected edge is oriented from its
    lower-``(degree, id)`` endpoint to its higher one, so every
    vertex's OUT-degree is bounded by O(√m) whatever its raw degree
    (a vertex can only point at neighbors at least as central as
    itself). Wedges are then pairs of out-edges sharing a source —
    hub vertices of a power-law pair graph (exactly what near-dup
    graphs are) contribute no wedges from their hub side, so the
    wedge join cannot hot-key — and a wedge (u→v, u→w) closes into a
    triangle iff the oriented edge v→w exists. Each triangle is
    enumerated exactly once (from its lowest-rank corner); the id-
    ordered three-way join this replaces shuffled hub vertices' full
    adjacency. ``(degree, id)`` is a total order, so orientation is
    deterministic and the counts are orientation-invariant either
    way.

    Output: ``[id, n_triangles]`` — every vertex, zero-filled.
    The raw pair list is consumed twice (degree pass + orientation)
    and the oriented edge list three times (both wedge sides +
    closure probe), so BOTH are persisted — pair generators like the
    Jaccard join are far more expensive than the edge list is large,
    and skipping the input pin re-ran the generator per consumer
    (caught by bench.py's r10 self-adjudication: q90 2.6→12 s).
    Released via ``cache.release(result)``.

    ``driver_budget_bytes`` (0 disables): when the collected pair list
    (``_EDGE_ROW_BYTES`` per row) plus its wedge working set
    (``_WEDGE_BYTES`` per wedge) fit, the counts are solved on the
    driver in one vectorized numpy pass (``_driver_triangle_counts``
    — an exact entry-level replication of this wedge join) instead of
    the 5-shuffle ladder, whose per-job driver latency dominates at
    candidate-graph sizes (same §5 bounded-driver-work class as
    ``connected_components``). The count that gates it materializes
    the same persist the degree pass would; over-budget graphs take
    the join ladder unchanged.
    """
    e = pairs.select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    ).persist()
    arrays = driver_arrays(e, e.count() * _EDGE_ROW_BYTES, driver_budget_bytes)
    if arrays is not None:
        out = _driver_triangle_counts(
            arrays,
            vertices.select(F.col("id")).distinct(),
            driver_budget_bytes,
        )
        if out is not None:
            # the edge cache backs nothing in the output plan, but it
            # rides the result so release() reaches the generator's
            # own pins exactly like the distributed path
            return own(out, e, pairs, vertices)
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("id").alias("b"), F.col("_deg").alias("_db"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge [src → dst] with the dst's rank carried for the
    # wedge-ordering comparison below
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, F.col("_db")).otherwise(F.col("_da")).alias(
            "_ddeg"
        ),
    ).persist()
    w1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("_ddeg").alias("_dv"),
    )
    w2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("_ddeg").alias("_dw"),
    )
    # order the wedge arms by the same (degree, id) rank so each
    # unordered out-neighbor pair appears once, and the closing edge
    # (v, w) carries exactly the orientation the edge list stores
    wedges = w1.join(w2, "u").filter(
        (F.col("_dv") < F.col("_dw"))
        | ((F.col("_dv") == F.col("_dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    # ONE pass over the triangle enumeration: a 3-branch unionAll of
    # corner projections re-ran the wedge+closure join per branch
    # (union branches share no CSE; only their input exchanges get
    # reused) — measured 3× the join cost at gate scale (r11)
    corners = tri.select(
        F.explode(F.array("u", "v", "w")).alias("id")
    )
    per_v = corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    # pairs/vertices ride along so an upstream generator's own caches
    # (e.g. the Jaccard prefix pin) release with this result even when
    # the caller stripped their ownership attributes
    return own(
        vertices.select(F.col("id"))
        .distinct()
        .join(per_v, "id", "left")
        .select(
            "id",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        ),
        e,
        oriented,
        pairs,
        vertices,
    )


def _driver_pagerank(
    arrays: dict,
    verts: DataFrame,
    base: int,
    teleport: int,
    iterations: int,
) -> DataFrame:
    """Driver-solved fixed-point PageRank for a bounded symmetric
    edge list — the identical int64 arithmetic as the unrolled
    distributed plan (multiset degree over ALL sym rows; pr rows
    exist only for edge endpoints that are IN ``verts``, checked with
    one broadcast semi-join; ``div`` = floor division on the
    non-negative operands here), so the result is bit-identical.
    Isolated ``verts`` rows never receive edge mass: their pr is the
    constant ``teleport`` after step 1 (``base`` at 0 iterations) —
    applied as the LEFT-join fill, so the vertex set itself stays
    distributed and only endpoints reach the driver.
    """
    import numpy as np
    import pandas as pd

    spark = verts.sparkSession
    id_type = verts.schema["id"].dataType.simpleString()
    small_schema = f"id {id_type}, _pr long"
    s_raw, d_raw = arrays["src"], arrays["dst"]
    m = len(s_raw)
    if m:
        uniq, inv = np.unique(
            np.concatenate([s_raw, d_raw]), return_inverse=True
        )
        s, d = inv[:m], inv[m:]
        nv = len(uniq)
        # which endpoints hold a pr row: the distributed plan's
        # pr-table join keeps only verts members as contribution
        # SOURCES (and deg still counts every sym row) — one
        # endpoint-sized broadcast semi-join settles membership
        ep = spark.createDataFrame(
            pd.DataFrame({"id": uniq}), f"id {id_type}"
        )
        member = verts.join(F.broadcast(ep), "id", "left_semi").toArrow()
        in_verts = np.isin(uniq, member.column("id").to_numpy())
        deg = np.bincount(s, minlength=nv).astype(np.int64)
        pr = np.full(nv, base, dtype=np.int64)
        src_mask = in_verts[s]
        sm, dm = s[src_mask], d[src_mask]
        for _ in range(iterations):
            contrib = pr[sm] // deg[sm]
            incoming = np.zeros(nv, dtype=np.int64)
            np.add.at(incoming, dm, contrib)
            pr = teleport + (85 * incoming) // 100
        labeled = spark.createDataFrame(
            pd.DataFrame({"id": uniq[in_verts], "_pr": pr[in_verts]}),
            small_schema,
        )
    else:
        labeled = spark.createDataFrame([], small_schema)
    fill = base if iterations == 0 else teleport
    return verts.join(F.broadcast(labeled), "id", "left").select(
        "id",
        F.coalesce("_pr", F.lit(fill)).cast("long").alias("pr_e9"),
    )


def pagerank_fixed(
    pairs: DataFrame,
    vertices: DataFrame,
    *,
    iterations: int = 3,
    scale: int = 10**9,
    driver_budget_bytes: int = DRIVER_BUDGET_BYTES,
) -> DataFrame:
    """Exact-integer PageRank over the symmetric closure of an
    undirected pair list: ``iterations`` unrolled power steps in e9
    fixed point — every operation is an int64 division or sum, so the
    result is bit-identical in any engine and any partition order (an
    oracle-checkable PageRank, which float implementations can never
    be). Isolated vertices hold the teleport mass; dangling
    redistribution is vacuous on a symmetric graph (documented
    convention, mirrored in the oracle).

    pr0 = scale div N;  pr' = (15·(scale div N)) div 100
                             + (85·Σ_{u~v} (pr[u] div deg[u])) div 100

    Shape: degree table once (vertex-keyed agg), then per iteration
    one edge⋈pr join (vertex-keyed, partial-combined sum). Unrolled
    because the iteration count is a small constant — no driver loop
    state, one linear plan; Catalyst pipelines the joins. At 100 TB
    each step is the standard vertex-partitioned join.

    ``driver_budget_bytes`` (0 disables): when the symmetric edge
    list (``_EDGE_ROW_BYTES`` per row) fits, the steps run on the
    driver in one bit-identical int64 numpy pass instead of
    ``iterations`` chained join+agg shuffle stages.

    Output: ``[id, pr_e9]``.
    """
    # persisted: the edge list is consumed by the degree table AND by
    # every iteration's join — without the pin an expensive pair
    # GENERATOR upstream (the Jaccard join here) re-executes per step.
    # Single-scan symmetrization (explode, not union) for the same
    # reason as connected_components: the persist's FIRST
    # materialization must not run the generator twice.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
                F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst").persist()
    verts = vertices.select(F.col("id")).distinct().persist()
    n = verts.count()
    base = int(scale) // max(n, 1)
    teleport = (15 * base) // 100
    # Driver fast path (guide §5, §1.2): the count materializes the
    # same persist the degree table would; 2 collected rows per pair.
    arrays = driver_arrays(
        sym, sym.count() * _EDGE_ROW_BYTES, driver_budget_bytes
    )
    if arrays is not None:
        out = _driver_pagerank(arrays, verts, base, teleport, iterations)
        return own(out, sym, verts, pairs, vertices)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    pr = verts.select("id", F.lit(base).cast("long").alias("pr_e9"))
    for _ in range(iterations):
        contrib = (
            sym.join(pr.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pr_e9 div _deg").alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        pr = (
            verts.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.expr("85 * coalesce(_in, 0L) div 100")
                ).cast("long").alias("pr_e9"),
            )
        )
    return own(pr, sym, verts, pairs, vertices)
