"""Corpus-analysis query inventory (round 5): the training-data
tiers between whole-document dedup (q34-q38) and the LLM extractors —
span-level substring dedup (q83), statistical keyword extraction
(q84), deterministic epoch resampling (q85), incremental dedup
admission (q86), stratified sampling (q87), and pre-dedup text
canonicalization (q88). All integer/digest-exact with DuckDB twins;
every no-RNG sampling device is the salted char_poly_hash bucket."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import read_table
from .registry import Query

_TOKS = "string_split_regex(text, '\\s+')"


def q83_substring_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication stats at token-8-gram granularity
    (Lee et al. 2022 span-level dedup): per doc, how many of its
    8-token spans occur anywhere else in the corpus (cross-doc or
    repeated in-doc). Inverted index on the gram; integers only."""
    from ..operators.dedup import ngram_span_dupes

    return ngram_span_dupes(
        read_table(spark, sf_dir, "documents"), "text", "doc_id", l=8
    )


Q83_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
  WHERE len(toks) >= 8
),
c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1),
d AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup_spans
  FROM g JOIN c USING (gram) GROUP BY 1
)
SELECT t.doc_id,
       CAST(COALESCE(d.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(d.n_dup_spans, 0) * 10000
            // GREATEST(COALESCE(d.n_spans, 0), 1) AS BIGINT)
         AS dup_ratio_e4
FROM t LEFT JOIN d USING (doc_id)
"""


def q84_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by fixed-point linear-idf
    tf-idf (score_e4 = tf * ((n_docs * 1e4) div df), ties by term) —
    the statistical keyword tier beside the LLM extractor."""
    from ..operators.textops import tfidf_top_terms

    return tfidf_top_terms(
        read_table(spark, sf_dir, "documents"), "text", "doc_id", k=5
    )


Q84_SQL = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
n AS (SELECT COUNT(*) AS n_docs FROM base),
t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM base),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_t,
         tf.tf * ((n.n_docs * 10000) // dfq.df_t) AS score_e4
  FROM tf JOIN dfq USING (term), n
)
SELECT doc_id, term,
       CAST(tf AS BIGINT) AS tf,
       CAST(df_t AS BIGINT) AS df_t,
       CAST(score_e4 AS BIGINT) AS score_e4,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_e4 DESC, term ASC
  ) AS rank
  FROM s
)
WHERE rank <= 5
"""


def q85_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized epoch mix: every doc repeated weight times in
    expectation (integer copies + salted-hash fractional copy), the
    deterministic no-RNG resampling that makes a data-mixing epoch a
    pure function of (corpus, salt)."""
    from ..operators.curation import weighted_resample

    return weighted_resample(
        read_table(spark, sf_dir, "documents"), "source", "doc_id"
    )


def _q85_sql() -> str:
    from ..functions.text import char_poly_hash_sql

    h = char_poly_hash_sql("CAST(doc_id AS VARCHAR) || ':resample'")
    return f"""
WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_sources FROM counts),
w AS (
  SELECT source,
         CAST((10000 * total) // (n_sources * n_docs) AS BIGINT) AS weight_e4
  FROM counts, tot
),
d AS (
  SELECT doc_id, documents.source,
         weight_e4 // 10000
           + CASE WHEN {h} % 10000 < weight_e4 % 10000 THEN 1 ELSE 0 END
           AS n_rep
  FROM documents JOIN w ON documents.source = w.source
)
SELECT doc_id, source, CAST(u.copy_idx AS BIGINT) AS copy_idx
FROM d, unnest(generate_series(1, CAST(n_rep AS INTEGER))) AS u(copy_idx)
"""


def q86_dedup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-dedup admission: docs with id >= 250 arrive
    as 'today's batch' against the standing digest set of ids < 250 —
    the daily-ingest path that must not re-read the corpus. Admission
    ≡ full-rebuild dedup restricted to the batch (oracle computes it
    that way)."""
    from ..operators.dedup import dedup_admit_incremental

    docs = read_table(spark, sf_dir, "documents")
    return dedup_admit_incremental(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        "text",
        "doc_id",
    )


Q86_SQL = """
WITH ex AS (
  SELECT DISTINCT sha256(text) AS text_sha FROM documents
  WHERE doc_id < 250 AND text IS NOT NULL
),
batch AS (
  SELECT doc_id, sha256(text) AS text_sha FROM documents
  WHERE doc_id >= 250 AND text IS NOT NULL
),
bm AS (SELECT text_sha, MIN(doc_id) AS _min_id FROM batch GROUP BY 1)
SELECT b.doc_id,
       b.text_sha,
       (ex.text_sha IS NULL AND b.doc_id = bm._min_id) AS admitted,
       CASE WHEN ex.text_sha IS NOT NULL THEN 'in_corpus'
            WHEN b.doc_id != bm._min_id THEN 'dup_in_batch'
            ELSE 'new' END AS reason
FROM batch b
JOIN bm USING (text_sha)
LEFT JOIN ex ON b.text_sha = ex.text_sha
UNION ALL
SELECT doc_id, CAST(NULL AS VARCHAR) AS text_sha,
       FALSE AS admitted, 'null_text' AS reason
FROM documents WHERE doc_id >= 250 AND text IS NULL
"""


def q87_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-N-per-source sample (eval subset
    selection): salted-hash rank inside each source, ties by id —
    a pure function of (corpus, salt), no RNG."""
    from ..operators.curation import stratified_sample

    return stratified_sample(
        read_table(spark, sf_dir, "documents"), "source", "doc_id",
        n_per_group=20,
    )


def _q87_sql() -> str:
    from ..functions.text import char_poly_hash_sql

    h = char_poly_hash_sql("CAST(doc_id AS VARCHAR) || ':sample'")
    return f"""
SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY {h} ASC, doc_id ASC
         ) AS pick_rank
  FROM documents
)
WHERE pick_rank <= 20
"""


QUERIES = [
    Query("q83_substring_dupes", q83_substring_dupes, Q83_SQL,
          ("U2", "A5"), "exact substring (8-gram span) duplication stats"),
    Query("q84_tfidf_top_terms", q84_tfidf_top_terms, Q84_SQL,
          ("A10", "O1"), "fixed-point tf-idf top terms per document"),
    Query("q85_weighted_resample", q85_weighted_resample, _q85_sql(),
          ("A3", "F12"), "deterministic weighted epoch resampling"),
    Query("q86_dedup_admit", q86_dedup_admit, Q86_SQL,
          ("A1", "J2"), "incremental exact-dedup batch admission"),
    Query("q87_stratified_sample", q87_stratified_sample, _q87_sql(),
          ("O1", "F12"), "deterministic per-group stratified sample"),
]


def q88_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-dedup text canonicalization: lowercase, alnum-only,
    whitespace-collapsed text + its sha256 + removed-char count."""
    from ..operators.textops import normalize_text

    return normalize_text(
        read_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


Q88_SQL = r"""
SELECT doc_id,
       norm_text,
       sha256(norm_text) AS norm_sha,
       CAST(length(text) - length(norm_text) AS BIGINT) AS n_removed
FROM (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', ' ', 'g'),
           '[ \t\n\r]+', ' ', 'g')) AS norm_text
  FROM documents WHERE text IS NOT NULL
)
"""

QUERIES.append(
    Query("q88_normalize_text", q88_normalize_text, Q88_SQL,
          ("F1", "F12"), "pre-dedup text canonicalization + digest")
)


def q92_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document 8-gram novelty: per doc, the fraction of its
    gram occurrences first seen (min doc_id) in that doc — the
    marginal-signal curve a curation pipeline watches per source."""
    from ..operators.dedup import ngram_novelty

    return ngram_novelty(
        read_table(spark, sf_dir, "documents"), "text", "doc_id", l=8
    )


Q92_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
  WHERE len(toks) >= 8
),
f AS (SELECT gram, MIN(doc_id) AS first_owner FROM g GROUP BY 1),
d AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN f USING (gram) GROUP BY 1
)
SELECT t.doc_id,
       CAST(COALESCE(d.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(d.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(COALESCE(d.n_novel, 0) * 10000
            // GREATEST(COALESCE(d.n_grams, 0), 1) AS BIGINT)
         AS novelty_e4
FROM t LEFT JOIN d USING (doc_id)
"""

QUERIES.append(
    Query("q92_ngram_novelty", q92_ngram_novelty, Q92_SQL,
          ("A5", "U2"), "cross-document n-gram novelty fraction")
)


def q93_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum feed: q31-quality tiers walked in
    order, salted-hash shuffle inside each tier, dense global
    train_pos — no RNG, a pure function of (corpus, salt)."""
    from ..operators.curation import curriculum_order

    return curriculum_order(
        read_table(spark, sf_dir, "documents"), "text", "doc_id",
        n_buckets=4,
    )


def _q93_sql() -> str:
    from ..functions.text import char_poly_hash_sql

    h = char_poly_hash_sql("CAST(doc_id AS VARCHAR) || ':curriculum:v1'")
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform({_TOKS}, x -> CAST(length(x) AS BIGINT))),
             (a, b) -> a + b) AS sum_len,
         CAST(len(list_filter({_TOKS}, x -> x IN ('the', 'a'))) AS BIGINT)
           AS n_stop
  FROM documents WHERE text IS NOT NULL
),
q AS (
  SELECT doc_id,
         ((n_tokens - n_stop) * LEAST(sum_len, n_tokens * 10) * 10000)
             // (n_tokens * n_tokens * 10) AS quality_e4
  FROM t
),
i AS (
  SELECT doc_id, quality_e4,
         ROW_NUMBER() OVER (ORDER BY quality_e4 DESC, doc_id ASC) AS gidx
  FROM q
),
n AS (SELECT COUNT(*) AS n_docs FROM q),
b AS (
  SELECT doc_id, quality_e4, ((gidx - 1) * 4) // n_docs AS bucket, n_docs
  FROM i, n
),
r AS (
  SELECT doc_id, quality_e4, bucket, n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY bucket ORDER BY {h} ASC, doc_id ASC
         ) AS rn
  FROM b
)
SELECT doc_id, quality_e4,
       CAST(bucket AS BIGINT) AS bucket,
       CAST((bucket * n_docs + 3) // 4 + rn - 1 AS BIGINT) AS train_pos
FROM r
"""


QUERIES.append(
    Query("q93_curriculum_order", q93_curriculum_order, _q93_sql(),
          ("O1", "F12"), "deterministic quality-curriculum ordering")
)


def q94_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fitting artifact: top-200 vocabulary with cumulative
    corpus coverage in basis points — rank and running sum assigned
    by the distributed prefix-sum device, no global window."""
    from ..operators.textops import vocab_coverage

    return vocab_coverage(
        read_table(spark, sf_dir, "documents"), "text", top_v=200
    )


Q94_SQL = f"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT term, COUNT(*) AS n_occ
  FROM (SELECT unnest(toks) AS term FROM t)
  GROUP BY 1
),
tot AS (SELECT SUM(n_occ) AS total FROM occ),
r AS (
  SELECT term, n_occ,
         ROW_NUMBER() OVER (ORDER BY n_occ DESC, term ASC) AS vocab_rank,
         SUM(n_occ) OVER (
           ORDER BY n_occ DESC, term ASC ROWS UNBOUNDED PRECEDING
         ) AS cum_occ
  FROM occ
)
SELECT term,
       CAST(n_occ AS BIGINT) AS n_occ,
       CAST(vocab_rank AS BIGINT) AS vocab_rank,
       CAST(cum_occ AS BIGINT) AS cum_occ,
       CAST(cum_occ * 10000 // GREATEST(total, 1) AS BIGINT) AS coverage_e4
FROM r, tot
WHERE vocab_rank <= 200
"""

QUERIES.append(
    Query("q94_vocab_coverage", q94_vocab_coverage, Q94_SQL,
          ("A10", "O1"), "vocabulary table with cumulative coverage")
)


def q95_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture assembly: greedy per-source admission in
    a salted-hash epoch order until each source's token quota is
    spent — the grouped distributed prefix sum (no per-source window
    hot key). Budgets follow a fixed formula of the source name so
    the oracle needs no side-channel table."""
    from ..operators.curation import token_budget_sample

    docs = read_table(spark, sf_dir, "documents")
    # one formula, applied to the ACTUAL sources (a tiny distinct
    # collect) — a hardcoded src0..src19 dict would silently zero the
    # budget of any source a regenerated driver dataset adds, while
    # the oracle's expression computed one; a non-'srcN' name fails
    # loudly on both sides (int() here, CAST there)
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    budgets = {s: 400 * (1 + int(s[3:]) % 4) for s in srcs}
    return token_budget_sample(
        docs,
        "text",
        "doc_id",
        "source",
        budgets,
        salt="epoch1",
    )


def _q95_sql() -> str:
    from ..functions.text import char_poly_hash_sql

    h = char_poly_hash_sql("concat(CAST(doc_id AS VARCHAR), ':epoch1')")
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         {h} AS h,
         md5(text) AS ch
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id, n_tokens, ch
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= 400 * (1 + (CAST(substr(source, 4) AS INT) % 4)) AS admit
FROM c
"""


QUERIES.append(
    Query("q95_token_budget_sample", q95_token_budget_sample, _q95_sql(),
          ("A5", "O1", "F12"), "per-source token-budget mixture sampling")
)


def q96_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + fixed-size shard manifest — the
    trainer-feed materialization step after admission/curriculum:
    global salted-hash order via the distributed row index, then
    per-row shard arithmetic."""
    from ..operators.curation import epoch_shards

    return epoch_shards(
        read_table(spark, sf_dir, "documents"), "doc_id",
        docs_per_shard=64, salt="epoch-1",
    )


def _q96_sql() -> str:
    h = "md5('epoch-1|' || CAST(doc_id AS VARCHAR))"
    return f"""
WITH h AS (SELECT doc_id, {h} AS h FROM documents),
i AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS epoch_pos
  FROM h
)
SELECT doc_id,
       CAST(epoch_pos AS BIGINT) AS epoch_pos,
       CAST(epoch_pos // 64 AS BIGINT) AS shard_id,
       CAST(epoch_pos % 64 AS BIGINT) AS pos_in_shard
FROM i
"""


QUERIES.append(
    Query("q96_epoch_shards", q96_epoch_shards, _q96_sql(),
          ("O1", "F12"), "deterministic epoch shuffle + shard manifest"),
)
