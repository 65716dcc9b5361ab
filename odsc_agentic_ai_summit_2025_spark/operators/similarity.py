"""Similarity search over embedding columns (SURVEY V2/O2 + the
training-pipeline ANN surface).

- ``embedding_neardup_pairs`` — EXACT cosine-threshold pairs at
  sub-quadratic compute: LSH buckets give spatially coherent blocks,
  each block carries a (centroid, angular radius) summary, and block
  PAIRS are pruned with a sound spherical-triangle bound — a pair of
  blocks is skipped only when no member pair can possibly reach the
  threshold. Surviving pairs run the block-GEMM kernel.
- ``knn_bruteforce`` — exact top-k neighbors for a query set
  (broadcast queries × corpus, window rank). This is the correctness
  baseline the ANN variants are judged against.
- ``lsh_buckets`` — random-hyperplane signs (deterministic seeded
  planes) → bucket id; same-bucket collision probability rises with
  cosine. IVF (KMeans) is the alternative at 100 TB: cluster once,
  prune to nprobe clusters per query.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..cache import DRIVER_BUDGET_BYTES, driver_arrays, own


def _lsh_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG over the
    dimension index); values in [-1, 1). Shared by ``lsh_buckets``
    and the near-dup block assignment so bucketing is reproducible
    run-to-run — required for incremental rebuilds to collide
    consistently."""
    planes = []
    for p in range(n_planes):
        vals = []
        s = seed * 1_000_003 + p * 7919
        for _ in range(dim):
            s = (1103515245 * s + 12345) % (2**31)
            vals.append(s / float(2**30) - 1.0)
        planes.append(vals)
    return planes


def _lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id of a vector column under fixed planes."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _subblock_assignments(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int | None,
    seed: int,
    target_block: int,
) -> tuple[DataFrame, int]:
    """((id, v, sid) with a GUARANTEED-bounded sub-block key, corpus
    row count) — the count rides out of the census for free.

    Two-level blocking: the LSH sign pattern gives spatially coherent
    parent buckets, then a census pass (tiny: ≤ 2^p count rows) finds
    buckets larger than ``target_block`` and splits each into
    ``ceil(count / target_block)`` salted sub-blocks keyed by
    ``xxhash64(id) mod split``. Exactness is unaffected — blocking is
    just a partition of the corpus, and every sub-block later gets its
    own (centroid, radius) cap from its actual members — but no
    downstream ``collect_list`` row can materially exceed
    ``target_block`` vectors, even when the whole corpus is a narrow
    cone that lands in ONE sign pattern. That skew case is exactly
    what made the round-2 version an executor-OOM hazard at 100×.

    ``n_planes=None`` (adaptive) hashes at the 12-plane cap and picks
    the effective plane count from the census total by MASKING low
    bits: plane ``j``'s pseudo-random values depend only on (seed, j),
    so the first ``p`` of 12 planes ARE the ``p``-plane set and
    ``bid & (2^p - 1)`` is exactly the ``p``-plane bucket. That folds
    the corpus count into the census instead of a separate
    ``df.count()`` job — the upstream plan (often an embedding
    computation) is evaluated ONCE, by the assignment kernel; only the
    one-row dim probe touches it besides (a bounded partial scan).

    The bucket projection runs as one numpy GEMM per Arrow batch
    (same math as the interpreted-fold expression in ``lsh_buckets``,
    ~10× cheaper per evaluation — this plan is evaluated by census,
    stats, and payload passes).
    """
    import numpy as np

    spark = df.sparkSession
    empty = spark.createDataFrame(
        [], f"{id_col} long, {vec_col} array<double>, sid long"
    )
    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not first:
        return empty, 0
    dim = first[0]["d"]
    p = 12 if n_planes is None else n_planes
    pm = np.array(_lsh_planes(dim, p, seed), dtype=np.float64).T  # (dim, p)
    bc = spark.sparkContext.broadcast(pm)

    def assign(batches):
        # Arrow-native (guide §4.2): the vector column decodes via one
        # flatten+reshape and PASSES THROUGH zero-copy (append_column
        # re-uses the input buffers) — value-identical float64 math
        import numpy as np
        import pyarrow as pa

        from ..functions import arrowkit as ak

        mat = bc.value
        pows = (1 << np.arange(mat.shape[1])).astype(np.int64)
        for b in batches:
            if b.num_rows == 0:
                continue
            m = ak.fixed_matrix(b.column(b.schema.get_field_index(vec_col)))
            bits = (m @ mat) > 0
            yield b.append_column(
                "bid", pa.array((bits * pows).sum(axis=1), type=pa.int64())
            )

    from ..sources.io import ensure_min_partitions

    # persist: the assignment kernel's output is consumed three times
    # (census here, payload grouping, block stats) — unpersisted, the
    # GEMM pass re-runs for each. Handle attached to the returned
    # frame (cache.own); the caller releases after materializing.
    assigned = (
        ensure_min_partitions(
            # explicit JVM-side cast: the declared output schema says
            # array<double> and the Arrow kernel passes the column
            # through zero-copy, so a float32 input (the embeddings
            # fixture) must widen BEFORE the boundary (exact cast —
            # same float64s the pandas path produced via np.asarray)
            df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias(vec_col),
            )
        )
        .mapInArrow(assign, f"{id_col} long, {vec_col} array<double>, bid long")
        .persist()
    )
    census = assigned.groupBy("bid").agg(F.count(F.lit(1)).alias("n")).collect()
    n = sum(int(r["n"]) for r in census)
    if n == 0:
        assigned.unpersist()
        return empty, 0
    if n_planes is None:
        eff = min(12, max(6, math.ceil(math.log2(max(n / target_block, 2.0)))))
    else:
        eff = n_planes
    mask = (1 << eff) - 1
    coarse: dict[int, int] = {}
    for r in census:
        b = int(r["bid"]) & mask
        coarse[b] = coarse.get(b, 0) + int(r["n"])
    splits = {
        b: -(-c // target_block) for b, c in coarse.items() if c > target_block
    }
    bid_c = F.col("bid").bitwiseAND(F.lit(mask))
    if splits:
        split_map = F.create_map(
            *[F.lit(x) for bid, s in sorted(splits.items()) for x in (bid, s)]
        )
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.coalesce(split_map[bid_c], F.lit(1)))
    else:
        salt = F.lit(0)
    # sid = bid · 2^32 + salt: bid < 2^12, split factors < 2^32 → unique
    return own(
        assigned.select(
            id_col, vec_col, (bid_c * F.lit(1 << 32) + salt).alias("sid")
        ),
        assigned,
    ), n


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int | None = None,
    seed: int = 7,
    target_block: int = 1024,
) -> DataFrame:
    """Pairs (a_id < b_id) with cosine ≥ threshold — EXACT, via
    LSH-blocked GEMM with sound block-pair pruning.

    A naive pair join materializes O(n²) vector copies and evaluates
    an interpreted fold per pair — 290 s at a mere 2k vectors. And a
    hash(id)-blocked grid still *computes* every pair (O(n²) GEMM),
    which is the 100× scale-killer. The plan here:

    1. Block by LSH bucket (sign pattern under seeded hyperplanes;
       ``n_planes`` defaults to log2(n/target_block) clamped to
       [6, 12]) — spatially coherent: a block's members span a small
       angular cap, not the whole sphere. A census pass then SPLITS
       any bucket above ``target_block`` members into hash-salted
       sub-blocks (``_subblock_assignments``), so per-block payload
       rows are bounded by construction — a skewed corpus cannot OOM
       an executor by packing itself into one sign pattern.
    2. One distributed pass computes per-sub-block (centroid, angular
       radius); the B summaries are collected (B ≤ 2^p + n/target,
       a few KB) and every unordered sub-block pair is tested against
       the spherical triangle inequality: the angle between any x∈A,
       y∈B is ≥ angle(cA, cB) − radius(A) − radius(B), so if
       cos(max(0, θ_AB − rA − rB)) < threshold no pair in A×B can
       qualify and the pair is pruned — *provably* nothing is missed
       (small float-safety margins keep the bound conservative).
    3. Surviving block pairs join their payloads and run one
       vectorized float64 matmul per pair inside Arrow-batched
       ``mapInPandas`` — data shipped is O(surviving · block-size),
       compute is BLAS, not per-row lambdas.

    Random far-apart blocks prune (their bound caps below any real
    threshold); only angular neighborhoods are scored. Compute now
    scales with how much of the sphere is actually populated near
    itself — the property that survives a 100× corpus.

    Output is ids only: the threshold sits in a measured gap of the
    score distribution, so last-ulp accumulation differences between
    engines can't flip membership; emitting float scores would.

    Driver-side footprint is the B×B feasibility matrix — fine to
    B ≈ 10^4 sub-blocks (n ≈ 10^7 at the default target). Beyond
    that, use ``neardup_pairs_lsh`` (fully distributed candidate
    generation) — the documented 100 TB tier.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 — mapInPandas contract

    # The corpus count (which sizes the adaptive plane count) comes
    # out of the census inside _subblock_assignments — no separate
    # df.count() job, so the caller's upstream plan (often an
    # embedding computation) is evaluated exactly once, by the
    # assignment kernel, plus a one-row dim probe.
    sub, n = _subblock_assignments(
        df, vec_col, id_col, n_planes, seed, target_block
    )
    if n == 0:
        return df.sparkSession.createDataFrame([], "a_id long, b_id long")

    blocks = (
        sub.select(
            "sid",
            F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).alias("item"),
        )
        .groupBy("sid")
        .agg(F.collect_list("item").alias("items"))
    )

    # per-sub-block angular summaries: centroid direction + max member
    # angle. Group sizes are census-bounded, so a grouped-map kernel
    # is safe; Arrow-native (guide §4.2) — one flatten+reshape per
    # group, same float64 math as the pandas form.
    def block_stats(tbl):
        import numpy as np
        import pyarrow as pa

        from ..functions import arrowkit as ak

        m = ak.fixed_matrix(tbl.column("v"))
        sid = tbl.column("sid")[0].as_py()
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.maximum(nrm, 1e-300)
        c = m.mean(axis=0)
        cn = np.linalg.norm(c)
        if cn < 1e-12:
            # degenerate (members cancel): no useful cap — full radius
            return pa.table(
                {
                    "sid": pa.array([sid], pa.int64()),
                    "radius": pa.array([math.pi], pa.float64()),
                    "centroid": ak.list_f64(
                        np.array([[1.0] + [0.0] * (m.shape[1] - 1)])
                    ),
                }
            )
        c = c / cn
        dots = np.clip(m @ c, -1.0, 1.0)
        radius = float(np.arccos(dots.min())) + 1e-7  # safety margin
        return pa.table(
            {
                "sid": pa.array([sid], pa.int64()),
                "radius": pa.array([radius], pa.float64()),
                "centroid": ak.list_f64(c[None, :]),
            }
        )

    stats = (
        sub.select("sid", F.col(vec_col).alias("v"))
        .groupBy("sid")
        .applyInArrow(block_stats, "sid long, radius double, centroid array<double>")
        .collect()
    )

    bids = [r["sid"] for r in stats]
    radii = np.array([r["radius"] for r in stats])
    cents = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in stats])
    theta = np.arccos(np.clip(cents @ cents.T, -1.0, 1.0))
    # sound prune: keep pair unless even the closest possible member
    # pair (angle θ−rA−rB, floored at 0) falls below the threshold
    min_angle = np.maximum(theta - radii[:, None] - radii[None, :], 0.0)
    feasible = np.cos(min_angle) >= threshold - 1e-9
    # vectorized survivor scan: only the (typically few) feasible
    # pairs reach Python — a B² interpreted loop costs tens of seconds
    # at the documented B ≈ 10^4 tier even when pruning drops ~all
    iu, ju = np.nonzero(np.triu(feasible))
    pair_rows = [
        (int(bids[i]), int(bids[j])) for i, j in zip(iu.tolist(), ju.tolist())
    ]
    if not pair_rows:
        from ..cache import release

        release(sub)  # nothing backs the empty result
        return df.sparkSession.createDataFrame([], "a_id long, b_id long")
    # unordered block-pair grid as an EQUI join (a non-equi
    # bid_a <= bid_b join plans as BroadcastNestedLoopJoin, which
    # replicates the block payloads; the explicit pair list keeps both
    # sides hash-joinable and the surviving-pair table is tiny)
    grid_keys = df.sparkSession.createDataFrame(
        pair_rows, "bid_a long, bid_b long"
    )
    a = blocks.select(
        F.col("sid").alias("bid_a"),
        F.col("items").alias("items_a"),
    )
    b = blocks.select(
        F.col("sid").alias("bid_b"),
        F.col("items").alias("items_b"),
    )
    grid = grid_keys.join(a, "bid_a").join(b, "bid_b")

    thr = threshold

    def score_blocks(batches):
        # Arrow-native decode (guide §4.2): each list<struct{id, v}>
        # payload column flattens ONCE per batch (ids + one (N, dim)
        # matrix + row boundaries); the per-pair loop then slices
        # numpy views instead of re-decoding every item through a
        # Python round trip per cell. Same per-pair GEMM shapes →
        # same float64 bits.
        import numpy as np
        import pyarrow.compute as pc

        from ..functions import arrowkit as ak

        def flat_items(col):
            la = col.combine_chunks() if hasattr(col, "combine_chunks") else col
            lens = (
                pc.list_value_length(la)
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            st = la.flatten()
            ids = ak.i64(st.field("id"))
            mat = ak.fixed_matrix(st.field("v"))
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
            )
            return ids, mat, np.concatenate(([0], np.cumsum(lens)))

        for b in batches:
            if b.num_rows == 0:
                continue
            s = b.schema
            ids_fa, mat_fa, bnd_a = flat_items(
                b.column(s.get_field_index("items_a"))
            )
            ids_fb, mat_fb, bnd_b = flat_items(
                b.column(s.get_field_index("items_b"))
            )
            bida = ak.i64(b.column(s.get_field_index("bid_a")))
            bidb = ak.i64(b.column(s.get_field_index("bid_b")))
            out_a, out_b = [], []
            # rows here are block PAIRS (few per batch, a GEMM each)
            for r in range(b.num_rows):
                ia = ids_fa[bnd_a[r]:bnd_a[r + 1]]
                ib = ids_fb[bnd_b[r]:bnd_b[r + 1]]
                ma = mat_fa[bnd_a[r]:bnd_a[r + 1]]
                mb = mat_fb[bnd_b[r]:bnd_b[r + 1]]
                sim_mat = ma @ mb.T
                if bida[r] == bidb[r]:
                    # self-block: identical item sets on both sides —
                    # keep the strict upper triangle or every pair
                    # (and every self-pair) appears twice
                    sim_mat = np.triu(sim_mat >= thr, k=1)
                    ai, bj = np.nonzero(sim_mat)
                else:
                    ai, bj = np.nonzero(sim_mat >= thr)
                ids_a, ids_b = ia[ai], ib[bj]
                lo = np.minimum(ids_a, ids_b)
                hi = np.maximum(ids_a, ids_b)
                keep = lo < hi  # drops self-pairs and enforces a<b
                out_a.append(lo[keep])
                out_b.append(hi[keep])
            if out_a:
                yield ak.batch(
                    a_id=np.concatenate(out_a),
                    b_id=np.concatenate(out_b),
                )

    # a pair lands in exactly one unordered block pair (each id has
    # exactly one bucket) → genuinely distinct-free, no dedupe shuffle.
    # df rides along so a caller-supplied frame's own caches release
    # with the result (the r5 generator-orphan convention).
    return own(grid.mapInArrow(score_blocks, "a_id long, b_id long"), sub, df)


def neardup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_tables: int = 16,
    planes_per_table: int | None = None,
    seed: int = 101,
    max_bucket: int = 4096,
    driver_budget_bytes: int = DRIVER_BUDGET_BYTES,
) -> DataFrame:
    """Approximate near-dup pairs via banded hyperplane LSH with EXACT
    verification — the 100 TB path for high-threshold near-duplicate
    detection (``embedding_neardup_pairs`` stays exact at any
    threshold, but on isotropic data it cannot beat O(n²) compute;
    no exact method can — pairs at a mid-range threshold are
    statistically invisible at block granularity).

    Banded OR-amplification: ``n_tables`` independent tables, each
    hashing a vector to the sign pattern of ``planes_per_table``
    seeded hyperplanes. A pair is a CANDIDATE if it collides in ≥1
    table; candidates are then verified with the exact cosine, so
    precision is 1.0 and recall is 1-(1-p^r)^b with
    p = 1 - θ/π. For the near-dup regime this targets (cos ≥ 0.9,
    θ ≤ 26°) recall is ≥ 0.999 at the defaults; it decays fast
    below cos ~0.7 — use the exact operator there.

    Scale shape: one map-only pass computes all b·r projections as a
    single GEMM and emits (id, table, bucket) keys — ids only, never
    vectors; the candidate self-join shuffles ids; a broadcast
    bucket-size filter (≤ b·2^r rows) caps degenerate buckets
    (``max_bucket``) so a hot sign-pattern cannot go quadratic —
    same skew guard as the MinHash banding (dedup.py). Verification
    re-joins the two vector columns by id (hash joins, AQE-sized)
    and computes one vectorized row-wise dot per Arrow batch.

    Real corpora are often a narrow CONE, not an isotropic sphere
    (bag-of-words embeddings over a shared vocabulary all point the
    same way), and hyperplane LSH cannot discriminate inside a cone —
    one sign pattern swallows most of the corpus. The candidate
    hashing therefore CENTERS each normalized vector on the corpus
    mean direction first (one cheap distributed pass); centering
    spreads the cone over the sphere, shrinking buckets by orders of
    magnitude, while verification still uses the RAW cosine so
    precision is untouched.

    ``driver_budget_bytes`` (0 disables): when the float64 vector
    matrix (``total·dim·8`` bytes) fits, verification gathers vectors
    from one broadcast matrix instead of joining them onto each pair.

    Planes are deterministic per (seed, table), so the candidate set
    — hence the output — is reproducible run-to-run.

    The input is persisted (MEMORY_AND_DISK): the operator consumes
    it three times (mean pass, bucketize pass, verify joins) and an
    embedding plan upstream would otherwise be recomputed for each.
    Lifetime: the cache backs the RETURNED lazy plan, so it cannot be
    released here — it is attached to the result via ``cache.own``;
    callers release with ``cache.release(result)`` after
    materializing.
    """
    import numpy as np
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)

    # corpus mean direction of the normalized vectors: one map-only
    # pass emitting per-batch partial sums (a few rows per partition).
    # The dimension rides along in the partials (len of the sum
    # vector), so there is no separate limit(1) probe job — at tiny
    # data every job barrier shows up in the gate timings, and at
    # scale the probe was a wasted partial evaluation of whatever
    # embedding plan sits upstream. Arrow-native decode (guide §4.2):
    # one flatten+reshape per batch, value-identical float64s.
    def partial_mean(batches):
        import numpy as np

        from ..functions import arrowkit as ak

        for b in batches:
            if b.num_rows == 0:
                continue
            m = ak.fixed_matrix(b.column(0))
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            yield ak.batch(
                s=ak.list_f64(m.sum(axis=0)[None, :]),
                n=np.array([m.shape[0]], dtype=np.int64),
            )

    parts = (
        df.select(vec_col)
        .mapInArrow(partial_mean, "s array<double>, n long")
        .collect()
    )
    if not parts:
        df.unpersist()  # nothing backs the empty result
        return df.sparkSession.createDataFrame([], "a_id long, b_id long")
    dim = len(parts[0]["s"])
    total = sum(r["n"] for r in parts)
    mean_vec = np.sum([np.asarray(r["s"]) for r in parts], axis=0) / max(
        total, 1
    )
    if planes_per_table is None:
        # size the sign pattern to the corpus (count comes free from
        # the mean pass — no extra job): expected bucket ≈ n/2^r, so
        # r = log2(n/32) targets ~32-member buckets. At r=8 fixed, a
        # 100k isotropic corpus left ~390-member buckets whose
        # C(n,2)-per-bucket candidates cost 618 s in the r3 scale
        # smoke; adaptive r=12 cuts expected false candidates 16×
        # per doubling of r. Recall per table falls as p^r — callers
        # needing deterministic full recall pin r (and raise
        # n_tables) explicitly, as the q63 gate plan does.
        planes_per_table = max(8, min(16, math.ceil(math.log2(max(total / 32, 2)))))
    all_planes = np.array(
        [
            _lsh_planes(dim, planes_per_table, seed + 7919 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (b, r, dim)
    proj_mat = all_planes.reshape(n_tables * planes_per_table, dim).T
    nt, rp = n_tables, planes_per_table
    bc = df.sparkSession.sparkContext.broadcast((proj_mat, mean_vec))

    def bucketize(batches):
        import numpy as np

        from ..functions import arrowkit as ak

        pm, mu = bc.value
        pows = (1 << np.arange(rp)).astype(np.int64)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            m = ak.fixed_matrix(b.column(b.schema.get_field_index(vec_col)))
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            bits = ((m - mu) @ pm) > 0  # (n, b*r)
            bkts = (bits.reshape(n, nt, rp) * pows).sum(axis=2)  # (n, b)
            ids = ak.i64(b.column(b.schema.get_field_index(id_col)))
            yield ak.batch(
                id=np.repeat(ids, nt),
                t=np.tile(np.arange(nt, dtype=np.int32), n),
                bkt=bkts.reshape(-1),
            )

    from ..sources.io import ensure_min_partitions

    # persisted: the band table feeds BOTH the bucket-size census and
    # the candidate-join probe — unpersisted, the bucketize kernel ran
    # twice (two identical map stages in the r13 q63 trace); what is
    # cached is the ids-only (id, table, bucket) table, the smallest
    # frame in the plan
    keyed = (
        ensure_min_partitions(df.select(id_col, vec_col))
        .mapInArrow(bucketize, "id long, t int, bkt long")
        .persist()
    )
    bands = keyed
    # skew guard: the (table, bucket) census is ≤ b·2^r rows → broadcast
    ok_buckets = (
        keyed.groupBy("t", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .drop("n")
    )
    keyed = keyed.join(F.broadcast(ok_buckets), ["t", "bkt"])
    a = keyed.select(F.col("id").alias("a_id"), "t", "bkt")
    b = keyed.select(F.col("id").alias("b_id"), "t", "bkt")
    cand = (
        a.join(b, ["t", "bkt"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    thr = threshold

    # Verification ships id PAIRS, not vector payloads, whenever the
    # whole (id → vector) table is broadcast-class (r14, guide §8 —
    # "make every shuffle but the last operate on a lightweight
    # proxy"): the join form attaches two dim-wide float64 arrays to
    # EVERY candidate row, so ~1M surviving candidates at dim 64 push
    # ~1 GB through the exchange and the Arrow boundary where the
    # distinct id-pair stream is ~16 MB (measured: q63's verify job
    # was 11.6 CPU-s, 15.7 MB shuffled pre-join → 1.6 s wall). Under
    # the driver budget (total·dim·8 from the mean pass — no extra
    # job) the kernel gathers rows from one task-local broadcast
    # matrix by searchsorted id lookup; the per-row normalize + dot is
    # the SAME float64 arithmetic in the same order, so results are
    # bit-identical (pinned by test against the join path). Over the
    # budget — the 100 TB corpus — the join path runs unchanged: a
    # corpus-sized vector table must move by hash join, exactly like
    # an over-threshold broadcast join side.
    arrays = driver_arrays(  # reads the persist
        df.select(id_col, vec_col), total * dim * 8, driver_budget_bytes
    )
    if arrays is not None:
        ids, mat = arrays[id_col], arrays[vec_col]
        order = np.argsort(ids)
        bcv = df.sparkSession.sparkContext.broadcast(
            (ids[order], mat[order])
        )

        def verify_gather(batches):
            import numpy as np

            from ..functions import arrowkit as ak

            ids_s, m = bcv.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                s = b.schema
                a = ak.i64(b.column(s.get_field_index("a_id")))
                bb = ak.i64(b.column(s.get_field_index("b_id")))
                A = m[np.searchsorted(ids_s, a)]
                B = m[np.searchsorted(ids_s, bb)]
                A = A / np.maximum(
                    np.linalg.norm(A, axis=1, keepdims=True), 1e-300
                )
                B = B / np.maximum(
                    np.linalg.norm(B, axis=1, keepdims=True), 1e-300
                )
                keep = (A * B).sum(axis=1) >= thr
                yield ak.batch(a_id=a[keep], b_id=bb[keep])

        return own(
            cand.mapInArrow(verify_gather, "a_id long, b_id long"),
            df,
            bands,
            bcv,  # Broadcast duck-types through cache.release_frame
        )

    va = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"))
    pairs = cand.join(va, "a_id").join(vb, "b_id")

    def verify(batches):
        import numpy as np

        from ..functions import arrowkit as ak

        for b in batches:
            if b.num_rows == 0:
                continue
            s = b.schema
            A = ak.fixed_matrix(b.column(s.get_field_index("_va")))
            B = ak.fixed_matrix(b.column(s.get_field_index("_vb")))
            A = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
            B = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
            keep = (A * B).sum(axis=1) >= thr
            yield ak.batch(
                a_id=ak.i64(b.column(s.get_field_index("a_id")))[keep],
                b_id=ak.i64(b.column(s.get_field_index("b_id")))[keep],
            )

    return own(pairs.mapInArrow(verify, "a_id long, b_id long"), df, bands)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The 100 TB shape: queries are collected and BROADCAST as one
    dense float64 matrix; each corpus partition computes a local GEMM
    and keeps only its own top-k per query, so the shuffle that
    follows carries k·partitions candidate rows per query — never the
    full pair grid. (A crossJoin + global window ships every pair
    through one shuffle: measured 3-10× slower at sf0.1 and unbounded
    at scale.) Final merge is a window over those candidates.

    Rank ties broken by neighbor id for determinism.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    q_rows = queries.select(
        F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, n_id long, rank int"
        )
    q_ids = np.array([r["q_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.stack(
        [np.asarray(r["qv"], dtype=np.float64) for r in q_rows]
    )
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    excl = exclude_self
    kk = k

    def local_topk(batches):
        import numpy as np

        from ..functions import arrowkit as ak

        ids, mat = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            s = b.schema
            n_id = ak.i64(b.column(s.get_field_index(id_col)))
            nv = ak.fixed_matrix(b.column(s.get_field_index(vec_col)))
            nv = nv / np.maximum(
                np.linalg.norm(nv, axis=1, keepdims=True), 1e-300
            )
            # einsum (no BLAS dispatch), NOT `nv @ mat.T`: BLAS routes
            # single-row batches through dgemv, whose reduction order
            # differs from dgemm's by a last-ulp rounding — so the same
            # (neighbor, query) pair scored in different partition
            # layouts produced unequal cos bits, and the id tie-break
            # below silently became partition-dependent (r13: eleven
            # singleton partitions each scored an exact-duplicate at
            # 1.0+2e-16 and outranked ids 1..3). einsum's fixed
            # ascending-d loop makes cos a pure function of the two
            # vectors; query sets here are small broadcast sets, so
            # the non-BLAS contraction costs nothing measurable.
            sims = np.einsum("nd,qd->nq", nv, mat)  # (batch, n_queries)
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids)):
                col = sims[:, j]
                mask = n_id != ids[j] if excl else np.ones_like(n_id, bool)
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                take = min(kk, len(cand_idx))
                # boundary-tie-complete local cut: argpartition alone
                # forwards an ARBITRARY subset of candidates tied at
                # the k-th cosine, so the final id-tiebroken window
                # would rank over a partitioning-dependent set. Find
                # the k-th value in O(m), keep everything >= it (ties
                # included), then order the small survivor set by
                # (-cos, n_id) — same total order as the global merge.
                vals = col[cand_idx]
                if take < len(cand_idx):
                    kth = np.partition(vals, len(vals) - take)[len(vals) - take]
                    cand_idx = cand_idx[vals >= kth]
                sub_order = np.lexsort((n_id[cand_idx], -col[cand_idx]))
                top = cand_idx[sub_order[:take]]
                out_q.append(np.full(take, ids[j]))
                out_n.append(n_id[top])
                out_c.append(col[top])
            if out_q:
                yield ak.batch(
                    q_id=np.concatenate(out_q),
                    n_id=np.concatenate(out_n),
                    cos=np.concatenate(out_c),
                )

    from ..sources.io import ensure_min_partitions

    cand = ensure_min_partitions(
        corpus.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
    ).mapInArrow(local_topk, "q_id long, n_id long, cos double")
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )


def lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 8, seed: int = 7
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (scale path).

    Planes are deterministic pseudo-random (seeded LCG over the
    dimension index) so the bucketing is reproducible run-to-run —
    required for incremental rebuilds to collide consistently.
    """
    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = first[0]["d"] if first else 0
    bucket = _lsh_bucket_expr(vec_col, _lsh_planes(dim, n_planes, seed))
    return df.select(F.col(id_col), bucket.alias("bucket"))
