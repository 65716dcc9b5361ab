"""Property-based tests (Hypothesis): custom operators vs plain-Python
reference implementations on randomized small inputs.

The reference has no property testing (SURVEY §5); we add it for the
operators whose semantics we defined ourselves (as-of join,
sessionization, RRF) — the DuckDB oracle already covers them on the
fixed testdata, this covers the input space around it.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),        # user/key
        st.integers(0, 10_000),   # ts seconds
        st.integers(0, 100),      # value
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),  # no (key, ts) ties (asof contract)
)


@settings(**SETTINGS)
@given(left=events_strategy, right=events_strategy)
def test_asof_join_matches_reference(spark, left, right):
    from odsc_agentic_ai_summit_2025_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t * 1_000_000, i) for i, (k, t, _) in enumerate(left)],
        "k long, lts long, row_id long",
    ).selectExpr("k", "timestamp_micros(lts) AS lts", "row_id")
    rdf = spark.createDataFrame(
        [(k, t * 1_000_000, v) for (k, t, v) in right],
        "k long, rts long, v long",
    ).selectExpr("k", "timestamp_micros(rts) AS rts", "v")

    got = {
        r["row_id"]: r["v"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", value_cols=["v"]
        ).collect()
    }

    for i, (k, t, _) in enumerate(left):
        prior = [(rt, v) for (rk, rt, v) in right if rk == k and rt <= t]
        expect = max(prior)[1] if prior else None
        assert got[i] == expect, (i, k, t, got[i], expect)


@settings(**SETTINGS)
@given(events=events_strategy, gap_s=st.integers(1, 5000))
def test_sessionize_matches_reference(spark, events, gap_s):
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import sessionize

    df = spark.createDataFrame(
        [(i, t * 1_000_000, k) for i, (k, t, _) in enumerate(events)],
        "event_id long, ts long, user_id long",
    ).selectExpr("event_id", "timestamp_micros(ts) AS ts", "user_id")

    got = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in sessionize(df, f"{gap_s} seconds").collect()
    }

    # python reference: per user, sorted times, split on gap >= gap_s
    expect: dict[tuple[int, int], int] = {}
    for k in {e[0] for e in events}:
        times = sorted(t for (u, t, _) in events if u == k)
        seq, count, prev = 1, 0, None
        for t in times:
            if prev is not None and t - prev >= gap_s:
                expect[(k, seq)] = count
                seq, count = seq + 1, 0
            count += 1
            prev = t
        expect[(k, seq)] = count
    assert got == expect


rank_list = st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True)


@settings(**SETTINGS)
@given(a=rank_list, b=rank_list)
def test_rrf_matches_formula(spark, a, b):
    from odsc_agentic_ai_summit_2025_spark.operators.rrf import rrf_fuse

    adf = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(a)], "doc_id long, rank long"
    )
    bdf = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(b)], "doc_id long, rank long"
    )
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in rrf_fuse([adf, bdf], id_col="doc_id").collect()
    }
    for doc in set(a) | set(b):
        s = 0.0
        if doc in a:
            s += 1.0 / (60 + a.index(doc) + 1)
        if doc in b:
            s += 1.0 / (60 + b.index(doc) + 1)
        assert abs(got[doc] - s) < 1e-12


token_strategy = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789",
        min_size=1,
        max_size=24,
    ),
    min_size=0,
    max_size=30,
)


def _expression_hashes(spark, toks):
    """The Catalyst expression fold, the reference semantics, in token
    order."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        char_poly_hash,
    )

    df = spark.createDataFrame(list(enumerate(toks)), "i int, tok string")
    return [
        r["h"] for r in
        df.select("i", char_poly_hash(F.col("tok")).alias("h"))
        .orderBy("i").collect()
    ]


@settings(**SETTINGS)
@given(toks=token_strategy)
def test_char_poly_hash_arrow_matches_expression(spark, toks):
    """The Arrow-buffer fold the embedder runs (byte gather over the
    string column's contiguous data buffer) must equal the expression
    fold value-for-value."""
    import pyarrow as pa

    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        char_poly_hash_arrow,
    )

    arr = pa.array(toks, type=pa.string())
    assert list(char_poly_hash_arrow(arr)) == _expression_hashes(spark, toks)


@settings(**SETTINGS)
@given(toks=token_strategy.filter(lambda t: len(t) > 1))
def test_char_poly_hash_arrow_slice_matches_expression(spark, toks):
    """A sliced Arrow array carries a non-zero offset into the data
    buffer; the fold must honor it and still equal the expression fold
    on the sliced tokens."""
    import pyarrow as pa

    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        char_poly_hash_arrow,
    )

    arr = pa.array(toks, type=pa.string()).slice(1)
    assert list(char_poly_hash_arrow(arr)) == _expression_hashes(
        spark, toks[1:]
    )


@settings(**SETTINGS)
@given(toks=token_strategy)
def test_embed_kernel_matches_oracle_math(spark, toks):
    """End-to-end embed() on a synthetic doc must equal the plain
    Python reconstruction of the documented math (hash → bucket/sign
    → scatter-add → L2) — guards the kernel rewrite of the
    tokenize→hash→densify pipeline."""
    import math

    from odsc_agentic_ai_summit_2025_spark.functions.embedder import embed
    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        HASH_MOD,
        HASH_MULT,
    )

    dim = 8
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [row] = embed(df, "text", "vector", dim=dim).collect()
    got = list(row["vector"])

    v = [0.0] * dim
    for t in toks:
        h = 0
        for c in t:
            h = (h * HASH_MULT + ord(c)) % HASH_MOD
        v[h % dim] += ((h // dim) % 2) * 2.0 - 1.0
    nrm = math.sqrt(sum(x * x for x in v))
    want = [x / nrm if nrm > 0 else 0.0 for x in v]
    assert got == want


graph_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0,
    max_size=40,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=graph_strategy)
def test_components_algorithms_agree(spark, edges):
    """The driver solve and the distributed large-star/small-star
    (budget 0) must compute identical labelings on arbitrary graphs
    (self-loops, multi-edges, disconnected nodes included) — the
    budget decision cannot change answers, only cost."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    pairs = spark.createDataFrame(clean, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(26)], "id long")
    a = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, vertices=verts).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, vertices=verts, driver_budget_bytes=0
        ).collect()
    }
    assert a == b


# pack_sequences determinism under duplicate ids (the r4 driver red
# cell): the concat order must be a TOTAL function of the input —
# (doc_id, n_tokens, sha256(text)) — so Spark's distributed prefix
# sum and a single-window SQL cumsum agree even when doc_ids repeat.
_WORDS = ["aa", "bb", "cc", "dd"]
docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                       # doc_id — deliberately duplicated
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=5),
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(docs=docs_strategy, seq_len=st.integers(2, 16))
def test_pack_sequences_total_order_vs_oracle(spark, docs, seq_len):
    import duckdb
    import pandas as pd

    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        pack_sequences,
    )

    rows = [(i, " ".join(ws)) for i, ws in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # scramble input partitioning so ties start out split across partitions
    out = pack_sequences(
        df.repartition(5, "text"), "text", "doc_id", seq_len=seq_len
    )
    got = sorted(map(tuple, out.collect()))
    cache.release(out)

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        map(
            tuple,
            con.execute(f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         sha256(text) AS _h
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id, n_tokens, _h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS tok_offset
  FROM t
)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {seq_len} AS first_chunk,
       (tok_offset + n_tokens - 1) // {seq_len} AS last_chunk,
       (tok_offset + n_tokens - 1) // {seq_len}
         - tok_offset // {seq_len} + 1 AS n_chunks
FROM c
""").fetchall(),
        )
    )
    con.close()
    assert got == want


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),  # doc_id (duplicates allowed? no: unique below)
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
        ),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy)
@settings(**SETTINGS)
def test_ngram_novelty_matches_reference(spark, docs):
    """ngram_novelty ≡ a plain-Python first-owner scan, over random
    tiny corpora (l=3 so short docs still produce grams)."""
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import ngram_novelty

    L = 3
    rows = [(i, " ".join(toks)) for i, toks in docs]
    # reference: first owner = min doc_id containing the gram
    owner: dict[tuple, int] = {}
    grams_per_doc = {}
    for i, toks in sorted(docs):
        gs = [tuple(toks[j : j + L]) for j in range(len(toks) - L + 1)]
        grams_per_doc[i] = gs
        for g in gs:
            owner.setdefault(g, i)
    expect = {}
    for i, gs in grams_per_doc.items():
        n = len(gs)
        nov = sum(1 for g in gs if owner[g] == i)
        expect[i] = (n, nov, nov * 10000 // max(n, 1))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_e4"])
        for r in ngram_novelty(df, "text", "doc_id", l=L).collect()
    }
    assert got == expect


def test_asof_null_right_timestamps_never_match(spark):
    """A NULL-timestamp right row can never be a predecessor (DuckDB
    ASOF l.ts >= r.ts is never true for NULL) — before the r5 fix it
    sorted nulls-first and became the match when no real one existed."""
    from odsc_agentic_ai_summit_2025_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 5)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, None, 99), (1, 50, 7)], "k long, rts long, v long"
    )
    got = {
        (r["k"], r["lts"]): r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"],
        ).collect()
    }
    assert got[(1, 100)] == 7   # real predecessor at 50
    assert got[(1, 5)] is None  # no predecessor; NULL-ts row must not win


def test_interval_join_fractional_second_window(spark):
    """Fractional windows must round, not truncate: a right row at
    exactly lower/upper-bound distance belongs per the documented
    half-open [lo, hi) semantics."""
    import datetime as dt

    from odsc_agentic_ai_summit_2025_spark.operators.rangejoin import (
        interval_join,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame([(1, t0)], "k long, lts timestamp")
    right = spark.createDataFrame(
        [
            (1, t0 + 699_999 * us, "in"),        # 0.699999s: inside [0, 0.7)
            (1, t0 + 700_000 * us, "out"),       # exactly 0.7s: excluded
        ],
        "k long, rts timestamp, tag string",
    )
    got = sorted(
        r["tag"]
        for r in interval_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            lower_s=0.0, upper_s=0.7,
        ).collect()
    )
    assert got == ["in"]


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 40),  # doc ids MAY repeat across rows
            st.integers(1, 9),   # n_tokens
            st.sampled_from(["s0", "s1", "s2"]),
        ),
        min_size=1,
        max_size=16,
    ),
    budgets=st.fixed_dictionaries(
        {"s0": st.integers(0, 40), "s1": st.integers(0, 40)}
    ),
)
@settings(**SETTINGS)
def test_token_budget_sample_matches_reference(spark, docs, budgets):
    """token_budget_sample ≡ a plain-Python greedy scan in the same
    salted order, over random tiny corpora including DUPLICATE doc
    ids (the total-order tiebreaks must keep the cumsum a pure
    function of the input multiset); source s2 is deliberately
    missing from budgets (defaults to 0)."""
    import hashlib

    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        token_budget_sample,
    )

    MOD, MULT = 1_000_000_007, 31

    def poly(s: str) -> int:
        acc = 0
        for c in s:
            acc = (acc * MULT + ord(c)) % MOD
        return acc

    rows = [(i, " ".join(["w"] * n), src) for i, n, src in docs]
    # reference greedy scan in the operator's total order:
    # (source, h, id, n_tokens, md5(text))
    ordered = sorted(
        ((src, poly(f"{i}:t"), i, n,
          hashlib.md5((" ".join(["w"] * n)).encode()).hexdigest())
         for i, n, src in docs),
    )
    expect = []
    run: dict[str, int] = {}
    for src, _h, i, n, _ch in ordered:
        run[src] = run.get(src, 0) + n
        expect.append((i, src, n, run[src], run[src] <= budgets.get(src, 0)))

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_budget_sample(df, "text", "doc_id", "source", budgets, salt="t")
    got = sorted(
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"], r["admit"])
        for r in out.collect()
    )
    release(out)
    assert got == sorted(expect)


def _ref_bpe(word_counts: dict[str, int], n_merges: int, end: str = "</w>"):
    """Plain-Python reference BPE (Sennrich) with (count desc, pair
    lexicographic) tie-break."""
    segs = {w: tuple(w) + (end,) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple, int] = {}
        for w, seg in segs.items():
            for pair in zip(seg, seg[1:]):
                counts[pair] = counts.get(pair, 0) + word_counts[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        for w, seg in segs.items():
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = tuple(out)
    return merges, segs


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_bpe_learn_merges_matches_reference(spark, texts, n_merges):
    """Distributed word-count + driver merge rounds ≡ a plain-Python
    BPE over the same word multiset, including the per-document
    segment lengths from bpe_segment_stats."""
    import re

    from odsc_agentic_ai_summit_2025_spark.functions.text import BPE_SPLIT_RE
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        bpe_learn_merges,
        bpe_segment_stats,
    )

    rx = re.compile(BPE_SPLIT_RE)
    wc: dict[str, int] = {}
    per_doc_pieces = []
    for t in texts:
        pieces = [p.strip() for p in rx.findall(t.lower()) if p.strip()]
        per_doc_pieces.append(pieces)
        for p in pieces:
            wc[p] = wc.get(p, 0) + 1

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_learn_merges(df, "text", n_merges)
    expect_merges, segs = _ref_bpe(wc, n_merges) if wc else ([], {})
    assert got == expect_merges

    stats = {
        r["doc_id"]: (r["n_pieces"], r["n_bpe_tokens"])
        for r in bpe_segment_stats(df, "text", "doc_id", got).collect()
    }
    for i, pieces in enumerate(per_doc_pieces):
        assert stats[i] == (
            len(pieces),
            sum(len(segs[p]) for p in pieces),
        )


@given(
    words=st.lists(
        st.text(alphabet="abcx'<>/", min_size=1, max_size=10),
        min_size=1, max_size=6,
    ),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="abcx'", min_size=1, max_size=2),
            st.text(alphabet="abcx'", min_size=1, max_size=2),
        ),
        min_size=0, max_size=6,
    ),
)
@settings(**SETTINGS)
def test_bpe_fold_sql_matches_greedy_scan(words, merges):
    """The q97 oracle's nested list_reduce fold ≡ the Arrow kernel's
    single greedy left-to-right scan per rule, for arbitrary words
    and merge tables (including rules like (x, x) and symbols with
    SQL-quote characters)."""
    import duckdb

    from odsc_agentic_ai_summit_2025_spark.plans.textops import (
        bpe_seg_len_sql,
    )

    def scan_len(word: str) -> int:
        seg = list(word) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            seg = out
        return len(seg)

    con = duckdb.connect()
    vals = ", ".join("('" + w.replace("'", "''") + "')" for w in words)
    got = con.execute(
        f"SELECT w, {bpe_seg_len_sql(merges)} AS n FROM (VALUES {vals}) t(w)"
    ).fetchall()
    assert dict(got) == {w: scan_len(w) for w in words}


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(0, 2**40), min_size=1, max_size=60
    ),
    q_e4=st.sampled_from([1, 2500, 5000, 9000, 9900, 10000]),
)
def test_hdr_quantiles_bracket_property(spark, vals, q_e4):
    """q109's sketch invariant over the input space: for ANY
    non-negative int64 multiset and ANY quantile, the reported bucket
    contains the exact rank-ceil(q·n) order statistic and respects
    the 2^-mantissa relative-width bound."""
    import math

    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.sketches import (
        HDR_MANTISSA_BITS,
        hdr_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long").withColumn(
        "g", F.lit("g")
    )
    (row,) = hdr_quantiles(df, "v", ["g"], [q_e4]).collect()
    exact = sorted(vals)[math.ceil(q_e4 * len(vals) / 10000) - 1]
    assert row["bucket_lo"] <= exact <= row["bucket_hi"]
    assert (
        row["bucket_hi"] - row["bucket_lo"]
        <= max(0, row["bucket_lo"] >> HDR_MANTISSA_BITS)
    )
    assert row["n_rows"] == len(vals)
