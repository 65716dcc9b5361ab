"""Exactness / soundness tests for the sub-quadratic pair generators.

Each scalable candidate-generation scheme must be LOSSLESS where it
claims to be:

- ``embedding_neardup_pairs`` — LSH-blocked GEMM with a spherical
  block-pair bound: output must equal numpy brute force for ANY
  vectors/threshold (the bound is sound, not heuristic).
- ``jaccard_pairs`` — prefix-filter candidates + exact verify: output
  must equal the naive all-pairs program.
- ``neardup_pairs_lsh`` — documented approximate: precision must be
  1.0 (verification is exact); recall measured on the near-dup regime
  it targets.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _random_vectors(n: int, dim: int, n_clusters: int, seed: int):
    """Mixture: cluster cores + jittered members + isotropic noise —
    exercises both tight caps (prunable) and wide spread (not)."""
    rng = np.random.default_rng(seed)
    cores = rng.normal(size=(n_clusters, dim))
    cores /= np.linalg.norm(cores, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        if i % 3 == 2:
            v = rng.normal(size=dim)  # isotropic
        else:
            c = cores[i % n_clusters]
            v = c + 0.15 * rng.normal(size=dim)  # tight near-dup cluster
        rows.append(v / np.linalg.norm(v))
    return np.stack(rows)


def _brute_pairs(mat: np.ndarray, threshold: float) -> set[tuple[int, int]]:
    sims = mat @ mat.T
    out = set()
    n = len(mat)
    for i in range(n):
        for j in range(i + 1, n):
            if sims[i, j] >= threshold:
                out.add((i, j))
    return out


@pytest.mark.parametrize("threshold", [0.45, 0.8])
def test_neardup_block_bound_is_exact(spark, threshold):
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    mat = _random_vectors(240, 32, 6, seed=13)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], "vid long, v array<double>"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in embedding_neardup_pairs(df, "v", "vid", threshold).collect()
    }
    assert got == _brute_pairs(mat, threshold)


def test_neardup_subblocks_bounded_on_skewed_cone(spark):
    """Worst-case skew: the whole corpus is a narrow cone, so every
    vector lands in ONE LSH sign pattern. The census pass must split
    that bucket into hash-salted sub-blocks so no collect_list row
    exceeds ~target_block members (this was the round-2 executor-OOM
    hazard), and exactness must survive the split."""
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        _subblock_assignments,
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(29)
    core = rng.normal(size=48)
    core /= np.linalg.norm(core)
    mat = core + 0.05 * rng.normal(size=(600, 48))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], "vid long, v array<double>"
    )

    target = 64
    sub, n_rows = _subblock_assignments(
        df, "v", "vid", n_planes=6, seed=7, target_block=target
    )
    assert n_rows == len(mat)  # census-derived count
    sizes = [r["n"] for r in sub.groupBy("sid").agg(F.count("*").alias("n")).collect()]
    assert max(sizes) <= 2 * target  # salted split bounds every block
    assert len(sizes) >= len(mat) // target  # the big bucket really split

    got = {
        (r["a_id"], r["b_id"])
        for r in embedding_neardup_pairs(
            df, "v", "vid", 0.995, target_block=target
        ).collect()
    }
    assert got == _brute_pairs(mat, 0.995)


def test_jaccard_prefix_filter_is_exact(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import jaccard_pairs

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(40)]
    stop = ["the", "a", "of"]  # hot tokens present in most docs
    docs = []
    base = rng.choice(vocab, size=12, replace=False).tolist()
    for i in range(60):
        if i % 4 == 0:
            toks = base.copy()  # near-dup family
            if i % 8 == 0 and toks:
                toks[0] = f"mut{i}"
        else:
            toks = rng.choice(vocab, size=10, replace=False).tolist()
        toks += stop  # every doc carries the stopwords
        rng.shuffle(toks)
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        map(tuple, jaccard_pairs(df, "text", "doc_id", 0.8).collect())
    )

    # naive reference: all-pairs Jaccard in Python
    sets = {i: set(t.split()) for i, t in docs}
    want = []
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            e4 = inter * 10000 // union
            if e4 >= 8000:
                want.append((i, j, inter, len(sets[i]), len(sets[j]), e4))
    assert got == sorted(want)


def test_lsh_banded_precision_and_recall(spark):
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        neardup_pairs_lsh,
    )

    mat = _random_vectors(300, 32, 8, seed=29)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], "vid long, v array<double>"
    )
    out = neardup_pairs_lsh(df, "v", "vid", threshold=0.9)
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}
    # release per the repo convention: since r14 the result carries a
    # BROADCAST handle (the gather-verify matrix), which no block
    # sweep can see — an unreleased result would leave its registry
    # entry alive forever and trip the cache-hygiene invariant
    release(out)
    truth = _brute_pairs(mat, 0.9)
    # precision is exact by construction (candidates are verified)
    assert got <= truth
    # recall in the targeted near-dup regime (θ ≤ 26°): ≥ 0.999
    # in expectation at the defaults; allow a little slack for the
    # fixed seed
    assert len(got) >= 0.97 * len(truth), (len(got), len(truth))


def test_lsh_gather_verify_matches_join_verify(spark):
    """The r14 broadcast-gather verify (id pairs + one task-local
    vector matrix) must emit exactly the join-form verify's pairs —
    same float64 normalize+dot, so bit-identical keeps. A zero driver
    budget forces the join path; the default budget takes the gather
    path on a broadcast-class table."""
    from odsc_agentic_ai_summit_2025_spark.cache import release, sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        neardup_pairs_lsh,
    )

    mat = _random_vectors(240, 16, 6, seed=77)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))],
        "vid long, v array<double>",
    )
    gather = neardup_pairs_lsh(df, "v", "vid", threshold=0.85)
    got_g = sorted(map(tuple, gather.collect()))
    release(gather)
    sweep_blocks(spark)
    join = neardup_pairs_lsh(
        df, "v", "vid", threshold=0.85, driver_budget_bytes=0
    )
    got_j = sorted(map(tuple, join.collect()))
    release(join)
    sweep_blocks(spark)
    assert got_g == got_j and len(got_g) > 0


def test_simhash_kernel_matches_expression_form(spark, sf_dir):
    """The Arrow-kernel SimHash is bit-for-bit the expression form
    (same integer votes), so the DuckDB oracle covers both."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators import dedup as ops
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    expr = docs.select(
        "doc_id", ops.simhash(F.col("text")).alias("simhash")
    )
    kern = ops.simhash_table(docs, "text", "simhash").select(
        "doc_id", "simhash"
    )
    assert sorted(map(tuple, expr.collect())) == sorted(
        map(tuple, kern.collect())
    )


def test_minhash_kernel_matches_expression_form(spark, sf_dir):
    """The vectorized reduceat signature kernel produces the SAME
    band bucket keys as the pure-expression minhash_signature form
    (identical int64 arithmetic), so the oracle covers both."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators import dedup as ops
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    kern = {
        (r["doc_id"], r["band_id"], r["bucket_key"])
        for r in ops.minhash_band_buckets(docs, "text", "doc_id").collect()
    }
    expr_rows = docs.select(
        "doc_id", ops.minhash_signature(F.col("text")).alias("sig")
    ).collect()
    expr = {
        (
            r["doc_id"],
            band,
            "_".join(
                str(v)
                for v in r["sig"][
                    band * ops.ROWS_PER_BAND: (band + 1) * ops.ROWS_PER_BAND
                ]
            ),
        )
        for r in expr_rows
        for band in range(ops.N_BANDS)
    }
    assert kern == expr


def test_simhash_near_pairs_equals_bruteforce(spark, sf_dir):
    """Pigeonhole banding is LOSSLESS: the banded plan must emit
    exactly the pairs the all-pairs popcount program emits — at
    every Hamming budget, not just the registered one."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_table,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    fps = {
        r["doc_id"]: r["s"]
        for r in simhash_table(docs, "text", "s").select("doc_id", "s").collect()
    }
    ids = sorted(fps)
    for d in (0, 1, 3):
        want = sorted(
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(fps[a] ^ fps[b]).count("1") <= d
        )
        got = sorted(
            map(
                tuple,
                simhash_near_pairs(
                    docs, "text", "doc_id", max_hamming=d
                ).collect(),
            )
        )
        assert got == want, f"d={d}"


def test_simhash_near_pairs_rejects_zero_width_chunks(spark, sf_dir):
    """bits < max_hamming + 1 would give zero-width chunks whose mask
    is 0 (every row joins every row) — must fail fast instead."""
    import pytest

    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        simhash_near_pairs,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").limit(10)
    with pytest.raises(ValueError, match="non-empty chunks"):
        simhash_near_pairs(docs, "text", "doc_id", bits=4, max_hamming=4)


def test_editdist_near_pairs_planted(spark):
    """One-word substitution between long twins → candidate (small
    Hamming) + tiny edit distance; unrelated docs → absent. The
    canonicalizer must also make case/punct variants exact-ish."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base.replace("w7", "w99")),          # one-token edit
        (3, "W0 w1, w2! " + " ".join(f"w{i}" for i in range(3, 40))),
        (4, " ".join(f"z{i}" for i in range(40))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        editdist_near_pairs,
    )

    got = {
        (r["a_id"], r["b_id"]): r["edit_dist"]
        for r in editdist_near_pairs(
            df, "text", "doc_id", max_hamming=8, max_dist=10
        ).collect()
    }
    assert got.get((1, 2)) == 2      # 'w7' -> 'w99': substitute + insert
    assert got.get((1, 3)) == 0      # canonicalization erases case/punct
    assert all(4 not in pair for pair in got)


# ---------------------------------------------------------------------------
# Folded from test_r3_fixes/test_review_r5b/c: pair-generator
# numeric-core regressions (fixed-point thresholds, null text,
# zero-norm vectors)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("threshold,n", [(0.07, 100), (0.8, 10), (0.1, 30)])
def test_ppjoin_prefix_bound_integer_exact(threshold, n):
    """(n*t_e4 + 9999) div 10000 equals true ceil(t*n) where double
    arithmetic can overshoot (0.07*100 -> 7.000000000000001)."""
    import math
    from fractions import Fraction

    t_e4 = int(threshold * 10000)
    got = (n * t_e4 + 9999) // 10000
    want = math.ceil(Fraction(t_e4, 10000) * n)
    assert got == want


def test_jaccard_pairs_low_threshold_lossless(spark):
    """At t=0.07 the double-ceil form dropped qualifying pairs; the
    fixed-point prefix must keep every pair the naive all-pairs
    program finds."""
    from itertools import combinations

    from odsc_agentic_ai_summit_2025_spark.operators.dedup import jaccard_pairs

    rows = [
        (i, " ".join(f"w{j}" for j in range(i, i + 25)))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(df, "text", "doc_id", threshold=0.07).collect()
    }
    toks = {i: set(t.split()) for i, t in rows}
    want = {
        (a, b)
        for a, b in combinations(sorted(toks), 2)
        if (len(toks[a] & toks[b]) * 10000) // len(toks[a] | toks[b]) >= 700
    }
    assert got == want


def test_jaccard_threshold_rounds_not_truncates(spark):
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import jaccard_pairs

    # inter=110, union=193: jaccard_e4 = 1100000 div 193 = 5699 — one
    # e4 below 0.57. int(0.57*10000)==5699 (double product lands low),
    # so the truncating form admitted this pair; round() must not.
    shared = [f"t{i}" for i in range(110)]
    only_a = [f"a{i}" for i in range(41)]
    only_b = [f"b{i}" for i in range(42)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(shared + only_a)),
            (2, " ".join(shared + only_b)),
        ],
        ["doc_id", "text"],
    )
    out = jaccard_pairs(docs, "text", "doc_id", threshold=0.57)
    rows = out.collect()
    release(out)
    assert rows == []

    # sanity: the same pair IS admitted once the threshold allows it
    out2 = jaccard_pairs(docs, "text", "doc_id", threshold=0.5699)
    rows2 = out2.collect()
    release(out2)
    assert [(r["a_id"], r["b_id"], r["jaccard_e4"]) for r in rows2] == [
        (1, 2, 5699)
    ]


def test_simhash_and_exact_dedup_tolerate_null_text(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        exact_dedup_groups,
        simhash_table,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, None), (4, "alpha beta")],
        ["doc_id", "text"],
    )
    sh = simhash_table(docs, "text", "simhash").collect()
    assert {r["doc_id"] for r in sh} == {1, 4}  # null rows dropped, no crash

    groups = exact_dedup_groups(docs, "text", "doc_id").collect()
    # one real group for the duplicate content; NO bogus NULL-digest
    # group collapsing the two null-text docs
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1 and groups[0]["n_copies"] == 2


def test_neardup_pairs_tolerate_zero_vector(spark):
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rows = [
        (0, [0.0, 0.0, 0.0]),  # zero norm: must not NaN the block GEMM
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 1e-4, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, ["doc_id", "embedding"])
    out = embedding_neardup_pairs(df, "embedding", "doc_id", threshold=0.95)
    pairs = {(r["a_id"], r["b_id"]) for r in out.collect()}
    release(out)
    assert pairs == {(1, 2)}


def test_neardup_admit_incremental_decisions(spark):
    """q111's gate (r10): pinned decision rule on a constructed
    corpus — exact corpus dup rejected as near_corpus, within-batch
    near-pair keeps the smaller id, unmatched doc admitted, null text
    branched; and the signature kernel agrees with the interpreted
    column-expression form (the vectorized index build must not
    drift from the q36 arithmetic)."""
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import (
        _sig_from_hashes,
        minhash_signatures,
        neardup_admit_incremental,
        token_hashes,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different words over here now"),
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "unique snowflake content nothing matches"),
            (12, "unique snowflake content nothing matches"),
            (13, None),
            (14, "another fully fresh document entirely"),
        ],
        "doc_id long, text string",
    )
    existing = docs.filter(F.col("doc_id") < 10)
    sigs = minhash_signatures(existing, "text", "doc_id")
    # kernel == expression form, component for component
    expr_sigs = {
        r["doc_id"]: list(r["sig"])
        for r in existing.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            _sig_from_hashes(token_hashes(F.col("text"))).alias("sig"),
        )
        .collect()
    }
    assert {
        r["doc_id"]: list(r["sig"]) for r in sigs.collect()
    } == expr_sigs
    got = {
        r["doc_id"]: (r["admitted"], r["reason"], r["n_corpus_matches"])
        for r in neardup_admit_incremental(
            sigs, docs.filter(F.col("doc_id") >= 10), "text", "doc_id"
        ).collect()
    }
    assert got == {
        10: (False, "near_corpus", 1),
        11: (True, "new", 0),
        12: (False, "dup_in_batch", 0),
        13: (False, "null_text", 0),
        14: (True, "new", 0),
    }
