"""Deterministic text embedding (SURVEY §2.8 V1; reference
src/generate_note_embeddings.py:13-23 embeds with
ollama/nomic-embed-text).

Tests must be reproducible without a model server (SURVEY §7 tier B),
so the default embedder is a **feature-hashing bag-of-words**: token →
polynomial-hash bucket in [0, dim), sign ±1 from the next bit-range of
the same hash, summed per bucket, then L2-normalized. Properties that
matter:

- Map-only and shuffle-free: token hashing is JVM-side (higher-order
  ``aggregate`` fold), the per-row scatter-add is one vectorized
  ``np.bincount`` over the whole Arrow batch. The reduction is an
  integer-weighted sum — order-free, so vectors are deterministic
  under any partitioning. (Both an explode→groupBy formulation — two
  shuffles — and a per-row ``transform(sequence(0,dim))`` fold —
  O(dim·tokens) interpreted evals — were measured slower by 2× and
  100×.)
- ENGINE-PORTABLE: the token hash is the repo's own
  ``char_poly_hash`` (functions/text.py), which has an exact DuckDB
  twin (``char_poly_hash_sql``) — so the whole embed→kNN pipeline is
  oracle-checkable (plans/extended.py Q51_SQL), unlike the previous
  ``xxhash64`` variant whose hash exists only inside Spark.
- The exact same expression embeds a 100 TB corpus and a single query
  row, so query/document vectors agree bit-for-bit by construction.
- All arithmetic that feeds the L2 norm is exact-integer-in-double
  (±1 sums, squares of integers), so the normalization divisor is
  bit-identical in any engine and under any partition order.
- Cosine over these vectors ≈ token-overlap similarity, which is all
  the correctness suite needs from retrieval ranking.

A real embedding model drops in as a pandas UDF with the same
(text → array<float>) signature; every downstream operator
(kNN, IVF, LSH, RRF) is embedding-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import HASH_MOD, char_poly_hash  # noqa: F401 — re-exported; the
# expression form stays the documented reference semantics (the Arrow
# kernel below is its property-tested vectorized twin)

DEFAULT_DIM = 64
TOKEN_PATTERN = r"[a-z0-9]+"


def tokens(col: Column) -> Column:
    """Lowercase alnum-run tokens: the one token rule of the serving
    path. The embedder, the FTS index (``fts.normalized_tokens``) and
    the query terms (``fts.normalize_query_terms``, same
    ``TOKEN_PATTERN``) all split by it, so 'Rosenbaum' in a note
    matches 'rosenbaum' in a question; with a raw whitespace
    tokenizer the BM25 branch silently missed every
    capitalized/punctuated entity term."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def embed(
    df: DataFrame,
    text_col: str,
    out_col: str = "vector",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Append an L2-normalized hash-embedding column.

    V1 as an explicit column op (S8: LanceDB's implicit
    embed-on-insert becomes embed + write). Two-stage, SHUFFLE-FREE:

    1. JVM side: tokenize, then one polynomial-hash fold per token
       (``char_poly_hash``); bucket = h mod dim, sign from the next
       bit range ((h div dim) mod 2). One fold serves both outputs.
    2. Arrow batch side: a single ``np.bincount`` over the whole
       batch (composite key row·dim + bucket) scatter-adds every
       token of every row at once, then one vectorized L2 normalize.

    No explode, no groupBy: the operator is map-only, so it pipelines
    into whatever shuffle the downstream plan needs. Sums are exact
    integer ±1 counts in float64, so vectors are bit-identical under
    any partitioning (and identical to a groupBy formulation).
    """
    from pyspark.sql import types as T

    from ..sources.io import ensure_min_partitions

    # fan out BEFORE the tokenize+hash projection: on an under-split
    # input both the JVM expression and the Arrow kernel would
    # otherwise run on one core (the exchange sits above any project
    # added after it, so ordering here decides where the work lands).
    df = ensure_min_partitions(df, cost="gram")

    # JVM side stops at tokenization (codegen'd regexp): the rolling
    # char hash moves into the Arrow kernel as a vectorized fold
    # (functions/text.py:char_poly_hash_arrow, value-identical to the
    # char_poly_hash expression by property test). The expression form spent one interpreted Catalyst
    # lambda step PER CHARACTER — 4.7 s of q63's 5.6 s at sf0.1
    # (r4 profile); the kernel form is one numpy pass per
    # max-token-length position over the whole batch.
    with_contrib = df.withColumn("_t", tokens(F.col(text_col)))

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def densify(batches):
        # Arrow-native end to end (guide §4.2): the token-list column
        # flattens to ONE contiguous string buffer (+ lengths), the
        # rolling char hash folds straight over those bytes
        # (char_poly_hash_arrow — value-identical to the
        # char_poly_hash expression by property test), and every OTHER input
        # column passes through zero-copy instead of round-tripping
        # through pandas object cells (the text column is the widest
        # thing in the batch and was paying that toll for nothing).
        import numpy as np

        from ..functions import arrowkit as ak
        from ..functions.text import char_poly_hash_arrow

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ti = b.schema.get_field_index("_t")
            flat, lengths = ak.flat_with_lengths(b.column(ti))
            if lengths.sum():
                flat_h = char_poly_hash_arrow(flat)
                flat_b = flat_h % dim
                # (h - h%dim)/dim is an exact integer; parity of it
                # picks the sign — same math as the oracle CTE
                flat_s = ((flat_h // dim) % 2) * 2.0 - 1.0
                row_idx = np.repeat(np.arange(n, dtype=np.int64), lengths)
                v = np.bincount(
                    row_idx * dim + flat_b, weights=flat_s, minlength=n * dim
                ).reshape(n, dim)
            else:
                v = np.zeros((n, dim))
            nrm = np.sqrt((v * v).sum(axis=1, keepdims=True))
            np.divide(v, nrm, out=v, where=nrm > 0)
            yield b.remove_column(ti).append_column(
                out_col, ak.list_f64(v)
            )

    return with_contrib.mapInArrow(densify, out_schema)


def embed_sql_vector_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
) -> str:
    """DuckDB CTE body reproducing :func:`embed` as a sparse
    ``(id, bucket, weight)`` relation named ``vec`` — the oracle-side
    twin used by Q51_SQL. Weights are the L2-normalized components;
    buckets absent from ``vec`` are exact zeros."""
    from .text import char_poly_hash_sql

    poly = char_poly_hash_sql("t")
    return f"""
tok AS (
  SELECT {id_col} AS id, unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS t
  FROM {table}),
hb AS (
  SELECT id,
         CAST(h % {dim} AS INT) AS b,
         CAST((h // {dim}) % 2 * 2 - 1 AS DOUBLE) AS s
  FROM (SELECT id, {poly} AS h FROM tok)),
acc AS (SELECT id, b, SUM(s) AS w FROM hb GROUP BY 1, 2),
nrm AS (SELECT id, sqrt(SUM(w * w)) AS nn FROM acc GROUP BY 1),
vec AS (SELECT a.id, a.b, a.w / n.nn AS w
        FROM acc a JOIN nrm n ON a.id = n.id AND n.nn > 0)
""".strip()


# silence linters: HASH_MOD is part of the documented contract above
_ = HASH_MOD
