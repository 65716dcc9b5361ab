"""Connected components + multi-rule PII guardrails."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min id in component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


@pytest.mark.parametrize(
    "seed,budget",
    [
        pytest.param(seed, budget, id=f"{tag}{seed}")
        for tag, budget in (("", None), ("budget0-", 0))
        for seed in (0, 1, 2)
    ],
)
def test_connected_components_matches_union_find(spark, seed, budget):
    """Both paths against union-find: the driver solve (default
    budget) and the distributed large-star/small-star (budget 0)."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find_components(n, edges)

    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    kw = {} if budget is None else {"driver_budget_bytes": budget}
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, vertices=verts, **kw).collect()
    }
    assert got == expected


def test_connected_components_chain_converges(spark):
    """A path graph — worst-case diameter. 200 nodes would need 199
    rounds under pure neighbor-min propagation; large-star/small-star
    must close it well inside its round budget."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
        dedup_decisions,
    )

    n = 200
    chain = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")
    # driver_budget_bytes=0 forces the DISTRIBUTED path (the driver
    # fast path would otherwise absorb a graph this small) — this
    # test exists to pin its convergence on a long diameter
    comp = connected_components(pairs, driver_budget_bytes=0)
    rows = dedup_decisions(comp).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert sorted(r["id"] for r in rows if r["keep"]) == [0]
    assert all(r["cluster_size"] == n for r in rows)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_driver_components_match_distributed_loop(spark, seed):
    """The r13 driver fast path (bounded edge list solved with numpy
    min-label + pointer jumping) must label every vertex identically
    to the distributed large-star/small-star — including isolated
    vertices."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(1000 + seed)
    n = 150
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(110)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    fast = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, vertices=verts).collect()
    }
    loop = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, vertices=verts, driver_budget_bytes=0
        ).collect()
    }
    assert fast == loop
    assert len(fast) == n


def test_star_components_giant_component_skew(spark):
    """The topology a shared-label propagation is skew-hot on: ONE
    giant component — a hub star fused with a long chain, so every
    node funnels to label 0 (hot key) and the diameter stresses
    rounds. The distributed path must solve it."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    hub = [(0, i) for i in range(1, 400)]          # giant star at 0
    chain = [(399 + i, 400 + i) for i in range(200)]  # chain off one leaf
    pairs = spark.createDataFrame(hub + chain, "a_id long, b_id long")

    rows = connected_components(pairs, driver_budget_bytes=0).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == 600


def test_distributed_components_shuffled_path(spark):
    """A 200-node path whose ids are shuffled: label propagation that
    relies on ids decreasing along the path needs ~diameter rounds
    here. The distributed path must match union-find."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    n = 200
    ids = list(range(n))
    random.Random(1).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, driver_budget_bytes=0
        ).collect()
    }
    assert got == _union_find_components(n, edges)


def test_pii_trace_multi_rule(spark):
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        mask_pii,
        pii_trace_df,
    )

    df = spark.createDataFrame(
        [
            (1, "call 555-123-4567 or (555) 987-6543 now"),
            (2, "ssn 123-45-6789 email alice@x.com"),
            (3, "clean text"),
        ],
        "id int, text string",
    )
    rows = {
        (r["id"], r["rule"]): r
        for r in pii_trace_df(df, "text", "id").collect()
    }
    # 3 records × 3 rules
    assert len(rows) == 9
    assert rows[(1, "phone")]["n_matches"] == 2
    assert rows[(1, "phone")]["action"] == "WARN"
    assert rows[(1, "email")]["n_matches"] == 0
    assert rows[(2, "ssn")]["triggered"] and rows[(2, "email")]["triggered"]
    assert not rows[(3, "email")]["masking_applied"]
    assert rows[(2, "email")]["masking_applied"]

    masked = {
        r["id"]: r["m"]
        for r in df.select("id", mask_pii(F.col("text")).alias("m")).collect()
    }
    assert "XXX-XXX-XXXX" in masked[1] and "555" not in masked[1]
    assert "XXX-XX-XXXX" in masked[2] and "a***e@x.com" in masked[2]
    assert masked[3] == "clean text"


def test_train_split_stable_and_salted(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        train_split,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in train_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in train_split(df, "doc_id").collect()}
    assert a == b  # pure function of id
    # roughly 80/10/10
    from collections import Counter

    c = Counter(a.values())
    assert 350 < c["train"] < 450 and c["val"] > 20 and c["test"] > 20
    # a different salt re-splits independently
    other = {
        r["doc_id"]: r["split"]
        for r in train_split(df, "doc_id", salt="resplit").collect()
    }
    assert other != a


def test_corpus_filter_rules_discriminate(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        corpus_filter,
    )

    df = spark.createDataFrame(
        [
            (1, "plenty of ordinary words keep this document around fine"),
            (2, "too short"),                       # len_ok fails
            (3, "the a the a the a the a the a"),   # stop_ok fails
            (4, "x " * 20),                         # avg_len_ok fails (1 char)
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in corpus_filter(df, "text", "doc_id").collect()}
    assert rows[1]["kept"]
    assert not rows[2]["len_ok"] and not rows[2]["kept"]
    assert not rows[3]["stop_ok"] and not rows[3]["kept"]
    assert not rows[4]["avg_len_ok"] and not rows[4]["kept"]


def test_triangle_counts_k4_plus_chain(spark):
    """K4 → every member in C(3,2)=3 triangles; chain → none."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(10, 11), (11, 12), (12, 13)]
    pairs = spark.createDataFrame(k4 + chain, "a_id long, b_id long")
    verts = spark.createDataFrame(
        [(i,) for i in list(range(4)) + [10, 11, 12, 13, 99]], "id long"
    )
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(pairs, verts).collect()
    }
    assert all(got[i] == 3 for i in range(4))
    assert all(got[i] == 0 for i in (10, 11, 12, 13, 99))


@pytest.mark.parametrize("cap", [None, 0])
def test_triangle_counts_hub_star_vs_bruteforce(spark, cap):
    """Degree-oriented counting (r10) on the hub shape that hot-keyed
    the old id-ordered join: a mid-id hub tied to every spoke plus
    ring edges among consecutive spokes, checked per-vertex against a
    brute-force Python count. Orientation must not change counts —
    they are a property of the undirected graph. Parametrized over
    the driver fast path (cap=None: the default budget) and the
    distributed join (cap=0) so both paths stay pinned to ground
    truth."""
    import itertools

    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        triangle_counts,
    )

    n, hub = 40, 20
    edges = {tuple(sorted((i, hub))) for i in range(n) if i != hub}
    edges |= {
        (i, i + 1)
        for i in range(0, n - 1)
        if i % 3 == 1 and hub not in (i, i + 1)
    }
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {
        i: sum(
            1
            for v, w in itertools.combinations(sorted(adj[i]), 2)
            if w in adj[v]
        )
        for i in range(n)
    }
    pairs = spark.createDataFrame(sorted(edges), "a_id long, b_id long")
    verts = spark.range(n).select(F.col("id"))
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(
            pairs, verts, **({} if cap is None else {"driver_budget_bytes": cap})
        ).collect()
    }
    assert got == want and sum(want.values()) > 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_driver_triangle_counts_match_distributed(spark, seed):
    """The r14 driver fast path (entry-level numpy wedge counting)
    must count every vertex identically to the distributed
    degree-oriented wedge join — isolated vertices and vertices
    outside every triangle included."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        triangle_counts,
    )

    rng = random.Random(400 + seed)
    n = 60
    edges = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(140)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    verts = spark.createDataFrame(
        [(i,) for i in range(n + 5)], "id long"
    )  # 5 isolated vertices past the edge id range
    fast = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(pairs, verts).collect()
    }
    dist = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(pairs, verts, driver_budget_bytes=0).collect()
    }
    assert fast == dist
    assert len(fast) == n + 5 and sum(fast.values()) > 0


@pytest.mark.parametrize("seed", [0, 1])
def test_driver_pagerank_match_distributed(spark, seed):
    """The r14 driver fast path (vectorized int64 power steps) must
    be bit-identical to the distributed unrolled plan — including
    isolated vertices (teleport-only mass) and edge endpoints OUTSIDE
    the vertex set (they dilute degree but hold no pr row)."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        pagerank_fixed,
    )

    rng = random.Random(700 + seed)
    n = 50
    edges = [
        (rng.randrange(n + 4), rng.randrange(n + 4)) for _ in range(90)
    ]  # ids n..n+3 appear in edges but NOT in the vertex table
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    fast = {
        r["id"]: r["pr_e9"]
        for r in pagerank_fixed(pairs, verts, iterations=3).collect()
    }
    dist = {
        r["id"]: r["pr_e9"]
        for r in pagerank_fixed(
            pairs, verts, iterations=3, driver_budget_bytes=0
        ).collect()
    }
    assert fast == dist
    assert len(fast) == n


def _spy_budget_checks(monkeypatch) -> list:
    """Record every driver-budget decision as ``(footprint, fits)``."""
    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.operators import components as C

    checks = []
    fits = cache.fits_driver_budget

    def spy(footprint, budget):
        checks.append((footprint, fits(footprint, budget)))
        return checks[-1][1]

    monkeypatch.setattr(cache, "fits_driver_budget", spy)
    monkeypatch.setattr(C, "fits_driver_budget", spy)
    return checks


@pytest.mark.parametrize(
    "site", ["components", "triangles", "pagerank", "lsh"]
)
def test_driver_budget_boundary(spark, monkeypatch, site):
    """One driver budget for every driver-side solve: each site takes
    the driver path when the budget equals its footprint and the
    distributed path one byte below, with results equal to the
    distributed reference (budget 0). Triangles decide twice — the
    edge collect, then edge arrays plus wedge working set — so one
    byte below their footprint the edges still fit and the wedge
    guard is what falls back."""
    import numpy as np

    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.operators import components as C
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        neardup_pairs_lsh,
    )

    rng = random.Random(900)
    n = 40
    edges = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(120)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(n + 3)], "id long")
    g = np.random.default_rng(900)
    mat = g.normal(size=(8, 16))[np.arange(160) % 8] + 0.05 * g.normal(
        size=(160, 16)
    )
    docs = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(160)],
        "vid long, v array<double>",
    )
    run = {
        "components": lambda b: C.connected_components(
            pairs, vertices=verts, driver_budget_bytes=b
        ),
        "triangles": lambda b: C.triangle_counts(
            pairs, verts, driver_budget_bytes=b
        ),
        "pagerank": lambda b: C.pagerank_fixed(
            pairs, verts, driver_budget_bytes=b
        ),
        "lsh": lambda b: neardup_pairs_lsh(
            docs, "v", "vid", threshold=0.9, driver_budget_bytes=b
        ),
    }[site]

    checks = _spy_budget_checks(monkeypatch)

    def result(budget):
        checks.clear()
        out = run(budget)
        got = sorted(map(tuple, out.collect()))
        cache.release(out)
        return got, list(checks)

    want, _ = result(0)
    _, default_checks = result(cache.DRIVER_BUDGET_BYTES)
    assert all(ok for _, ok in default_checks)
    footprint = max(f for f, _ in default_checks)
    at, at_checks = result(footprint)
    assert all(ok for _, ok in at_checks)
    below, below_checks = result(footprint - 1)
    assert not below_checks[-1][1]
    if site == "triangles":
        assert len(below_checks) == 2 and below_checks[0][1]
    assert at == want and below == want and len(want) > 0


@pytest.mark.parametrize(
    "query", ["q66_dedup_clusters", "q100_curation_pipeline"]
)
def test_inventory_components_take_driver_path(
    spark, sf_dir, monkeypatch, query
):
    """The dedup-tier inventory queries solve their components on the
    driver at the test SF. The distributed reference gives the same
    labels seconds slower per call, so a silent move over the budget
    would show only as time; this pins the decision instead."""
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators import components as C
    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries

    checks = _spy_budget_checks(monkeypatch)
    decisions = []
    solve = C.connected_components

    def recorded(*args, **kwargs):
        checks.clear()
        out = solve(*args, **kwargs)
        decisions.append([ok for _, ok in checks])
        return out

    monkeypatch.setattr(C, "connected_components", recorded)
    out = all_queries()[query].spark(spark, sf_dir)
    out.count()
    release(out)
    assert decisions and all(d == [True] for d in decisions), decisions


def test_pagerank_fixed_star_and_determinism(spark):
    """Star center outranks leaves; isolated vertex holds teleport
    mass only; result identical under input repartitioning."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        pagerank_fixed,
    )

    star = [(0, i) for i in range(1, 9)]
    pairs = spark.createDataFrame(star, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(10)], "id long")
    got = {r["id"]: r["pr_e9"] for r in pagerank_fixed(pairs, verts).collect()}
    assert got[0] > got[1] > got[9]
    base = 10**9 // 10
    assert got[9] == (15 * base) // 100  # isolated: teleport only
    again = {
        r["id"]: r["pr_e9"]
        for r in pagerank_fixed(
            pairs.repartition(5, "b_id"), verts, iterations=3
        ).collect()
    }
    assert got == again


# ---------------------------------------------------------------------------
# Folded from test_review_r5d: components release/ownership
# ---------------------------------------------------------------------------


def test_components_raise_on_exhausted_rounds(spark, monkeypatch):
    """Out of rounds before the fixpoint, the distributed path raises,
    naming its round budget, rather than return under-merged labels."""
    from odsc_agentic_ai_summit_2025_spark.operators import components as C

    monkeypatch.setattr(C, "_STAR_ROUNDS", 2)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="after 2 large/small-star"):
        C.connected_components(chain, driver_budget_bytes=0).collect()


def test_components_raise_releases_storage(spark, monkeypatch):
    """A raise on exhausted rounds frees the edge persist and every
    round's checkpoint on the way out."""
    from odsc_agentic_ai_summit_2025_spark.operators import components as C

    monkeypatch.setattr(C, "_STAR_ROUNDS", 1)
    # a 13-node chain cannot converge in 1 large/small-star round
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["a_id", "b_id"]
    )
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="no fixpoint"):
        C.connected_components(chain, driver_budget_bytes=0)
    assert jsc.getPersistentRDDs().size() == base  # nothing leaked


def test_components_propagate_generator_caches(spark):
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "unrelated words entirely here"),
        ],
        ["doc_id", "text"],
    )
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    comp = connected_components(jaccard_pairs(docs, "text", "doc_id", 0.8))
    labels = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert labels == {1: 1, 2: 1}
    release(comp)
    # the jaccard prefix persist AND the label checkpoint both freed
    assert jsc.getPersistentRDDs().size() == base
