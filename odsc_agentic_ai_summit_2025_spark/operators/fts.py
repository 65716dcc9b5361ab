"""Full-text search: batch postings build + BM25 scoring (SURVEY V3,
A10).

The reference calls ``table.create_fts_index("note")`` and LanceDB
runs BM25 internally (generate_note_embeddings.py:49). Spark-first,
the index IS a DataFrame program:

- postings ``[term, doc_id, tf]`` — one explode + one groupBy;
  partition by term so query-time lookups prune.
- doc stats ``[doc_id, dl]`` and corpus stats ``[term, df]`` + N,
  avgdl — the BM25 ingredients.
- score = Σ_t idf(t) · tf(k1+1) / (tf + k1(1-b+b·dl/avgdl)),
  idf = ln((N-df+0.5)/(df+0.5) + 1) — Robertson/Sparck-Jones BM25+.

At 100 TB: postings are written bucketed by term (query terms hit
few buckets); the score is a join of the tiny query-term slice
against doc stats — broadcast the term slice, never the postings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.embedder import TOKEN_PATTERN
# the serving index tokenizer IS the embedder's token rule, so index,
# query terms and note vectors split text one way
from ..functions.embedder import tokens as normalized_tokens  # noqa: F401
from ..functions.text import tokens

K1 = 1.2
B = 0.75

Tokenizer = Callable[[Column], Column]


def normalize_query_terms(text: str) -> list[str]:
    """Driver-side twin of :func:`normalized_tokens` for query
    strings — one shared rule for index build and query."""
    import re

    return re.findall(TOKEN_PATTERN, text.lower())


@dataclass
class FtsIndex:
    """The persisted form of the FTS index: postings + doc lengths +
    per-term document frequency + corpus stats. Build once, serve
    every query (the reference builds its FTS index once at ingest,
    generate_note_embeddings.py:49). df(term) is a build-time member
    so serving never re-aggregates the full postings per query."""

    postings: DataFrame  # [term, doc, tf]
    dls: DataFrame       # [doc, dl]
    dfreq: DataFrame     # [term, df]
    n_docs: int
    avgdl: float

    def release(self) -> None:
        """Drop the cached index frames (``build_fts_index(cache=
        True)``). Same caller-owns-the-index-lifetime convention as
        ``PqIndex.release``/``IvfIndex.release`` — without this, a
        session rebuilding FTS indexes per corpus delta accumulates
        postings/dls/dfreq cache blocks with no conventional release
        path. Frames stay usable (they recompute on next use)."""
        from ..cache import release_frame

        for frame in (self.postings, self.dls, self.dfreq):
            release_frame(frame)


def build_fts_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    cache: bool = False,
    tokenizer: Tokenizer = tokens,
) -> FtsIndex:
    postings = build_postings(docs, text_col, id_col, tokenizer)
    dls = doc_lengths(docs, text_col, id_col, tokenizer)
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if cache:
        postings = postings.cache()
        dls = dls.cache()
        dfreq = dfreq.cache()
    # one aggregate yields both corpus stats (count + total length) —
    # two separate jobs would scan the doc source twice at build time
    stats = dls.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("dl").alias("_s")
    ).collect()[0]
    n_docs = int(stats["_n"])
    if n_docs == 0:
        raise ValueError("cannot build an FTS index over an empty corpus")
    return FtsIndex(postings, dls, dfreq, n_docs, int(stats["_s"]) / n_docs)


def build_postings(
    docs: DataFrame, text_col: str, id_col: str, tokenizer: Tokenizer = tokens
) -> DataFrame:
    """[term, doc_id, tf] — term frequency per document."""
    return (
        docs.select(F.col(id_col).alias("doc"), F.explode(tokenizer(F.col(text_col))).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(
    docs: DataFrame, text_col: str, id_col: str, tokenizer: Tokenizer = tokens
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc"), F.size(tokenizer(F.col(text_col))).cast("long").alias("dl")
    )


def bm25_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
) -> DataFrame:
    """BM25 score per document for a bag of query terms (builds a
    throwaway index; serve repeated queries from ``build_fts_index`` +
    ``bm25_scores_indexed``)."""
    return bm25_scores_indexed(
        build_fts_index(docs, text_col, id_col), query_terms
    )


def bm25_scores_indexed(index: FtsIndex, query_terms: list[str]) -> DataFrame:
    """BM25 against a prebuilt index.

    N and avgdl are computed exactly (integer sum / integer count →
    one IEEE division) so the oracle reproduces them bit-for-bit.
    The query-term slice of postings is tiny — joins build from it.
    """
    from collections import Counter

    postings, dls = index.postings, index.dls
    n_docs, avgdl = index.n_docs, index.avgdl

    # bag semantics: a repeated query term weights its score by its
    # query-term frequency (tantivy/LanceDB score each occurrence).
    # The weights ride as a LITERAL map lookup, not a joined table:
    # the r5 createDataFrame+broadcast form added two
    # BroadcastExchange/ExistingRDD scans per query (isolated-profiled
    # as the real part of the q40/q43 r5 uptick), while a literal map
    # over a query-sized term list stays inside whole-stage codegen
    # and keeps the serving plan identical to the set-semantics one.
    counts = sorted(Counter(query_terms).items())
    if not counts:
        # no query terms → no hits, same [doc, score] schema
        return (
            postings.join(dls, "doc")
            .filter(F.lit(False))
            .select("doc", F.lit(0.0).alias("score"))
        )
    qterms = F.array(*[F.lit(t) for t, _ in counts])
    qtf = F.element_at(
        F.create_map(*[x for t, c in counts for x in (F.lit(t), F.lit(c))]),
        F.col("term"),
    )

    # df(term) comes from the index (computed once at build); only the
    # query-term slice of it joins here, and that slice is tiny →
    # broadcast, so serving touches no postings-wide aggregate
    hit = (
        postings.filter(F.array_contains(qterms, F.col("term")))
        .join(
            F.broadcast(
                index.dfreq.filter(F.array_contains(qterms, F.col("term")))
            ),
            "term",
        )
        .join(dls, "doc")
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = (F.col("tf") * F.lit(K1 + 1)) / (
        F.col("tf")
        + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
    )
    return (
        hit.withColumn("term_score", idf * tf_norm * qtf)
        .groupBy("doc")
        .agg(F.sum("term_score").alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int,
) -> DataFrame:
    """Top-k docs by BM25, rank-only output (rank ties → doc id).

    Emitting ranks rather than raw float scores keeps the result
    engine-exact; score gaps between distinct tf/dl profiles are
    orders of magnitude above double noise.
    """
    return bm25_topk_indexed(
        build_fts_index(docs, text_col, id_col), query_terms, k
    )


def bm25_topk_indexed(index: FtsIndex, query_terms: list[str], k: int) -> DataFrame:
    # limit-then-rank: TakeOrdered prunes to k rows distributedly;
    # the global window only ever numbers those k (a bare global
    # row_number would single-partition every scored doc).
    w = W.orderBy(F.desc("score"), F.asc("doc"))
    return (
        bm25_scores_indexed(index, query_terms)
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(F.col("doc").alias("doc_id"), "rank")
    )
