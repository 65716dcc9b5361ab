"""Corpus-curation query inventory (q71–q75): benchmark
decontamination (exact and Bloom-sketch tiers), repetition quality,
source-mix reweighting, and embedding outlier detection — the
curation stages of a training-data pipeline, all DuckDB-oracle-checked.

The benchmark set for q71 is carved deterministically out of the
documents table (doc_id % 97 == 0 plays the role of the held-out
eval set), so the query needs no side input and both engines see the
identical split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation as ops
from ..sources.io import read_table
from .registry import Query

_TOKS = "string_split_regex(text, '\\s+')"

# DuckDB twin of the md5-derived 60-bit sketch hash
# (operators/sketches.py: conv(substring(md5(x), 1, 15), 16, 10) —
# fold 15 hex digits into a BIGINT; parity proven by q75/q57).
def _hexfold_sql(col: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({col}), 1, 15), ''), "
        "c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48 "
        "ELSE ascii(c) - 87 END AS BIGINT))), (a, b) -> a * 16 + b)"
    )


# DuckDB twin of operators.curation._word_ngrams (n is inlined).
def _grams_sql(n: int) -> tuple[str, str]:
    parts = " || ' ' || ".join(f"ts[i + {j}]" for j in range(n))
    return (
        f"SELECT id, ts, unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS i"
    ), parts


# ---------------------------------------------------------------------------
# q71 — benchmark decontamination (word n-gram overlap vs eval split)
# ---------------------------------------------------------------------------

def q71_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ops.contamination_pairs(
        corpus, bench, "text", "doc_id", n=3, min_shared=1
    )


def _q71_sql() -> str:
    head, parts = _grams_sql(3)
    return f"""
WITH bench AS (SELECT doc_id AS id, {_TOKS} AS ts FROM documents WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id AS id, {_TOKS} AS ts FROM documents WHERE doc_id % 97 <> 0),
bg0 AS ({head} FROM bench),
bg AS (SELECT DISTINCT id AS bench_id, {parts} AS gram FROM bg0),
cg0 AS ({head} FROM corpus),
cg AS (SELECT DISTINCT id AS corpus_id, {parts} AS gram FROM cg0)
SELECT corpus_id, bench_id, COUNT(*) AS n_shared
FROM cg JOIN bg USING (gram)
GROUP BY 1, 2
HAVING COUNT(*) >= 1
"""


# ---------------------------------------------------------------------------
# q72 — Gopher-style repetition quality stats
# ---------------------------------------------------------------------------

def q72_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.repetition_stats(
        read_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


Q72_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
tstat AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_tok_n FROM cnt GROUP BY 1
),
g0 AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
       FROM toks),
g AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram FROM g0),
gstat AS (
  SELECT doc_id, COUNT(*) AS n2, COUNT(DISTINCT gram) AS n2d FROM g GROUP BY 1
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.top_tok_n AS BIGINT) AS top_tok_n,
       CAST((t.top_tok_n * 10000) // t.n_tokens AS BIGINT) AS top_frac_e4,
       CAST((COALESCE(g.n2, 0) - COALESCE(g.n2d, 0)) * 10000
            // greatest(COALESCE(g.n2, 0), 1) AS BIGINT) AS dup2_frac_e4,
       ((t.top_tok_n * 10000) // t.n_tokens > 2000
        OR (COALESCE(g.n2, 0) - COALESCE(g.n2d, 0)) * 10000
           // greatest(COALESCE(g.n2, 0), 1) > 2000) AS repetitive
-- LEFT JOIN: a sub-2-token doc has a tstat row but no 2-grams; the
-- Spark operator emits it with dup2=0, so an inner join would break
-- row parity the first time the driver data contains a short doc
FROM tstat t LEFT JOIN gstat g USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q73 — source-mix reweighting (data mixing)
# ---------------------------------------------------------------------------

def q73_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.source_mix_weights(
        read_table(spark, sf_dir, "documents"), "source"
    )


Q73_SQL = """
WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_sources FROM counts)
SELECT source,
       n_docs,
       CAST((n_docs * 10000) // total AS BIGINT) AS frac_e4,
       CAST((10000 * total) // (n_sources * n_docs) AS BIGINT) AS weight_e4
FROM counts, tot
"""


# ---------------------------------------------------------------------------
# q74 — embedding outliers vs label centroid
# ---------------------------------------------------------------------------

def q74_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.embedding_outliers(
        read_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        "label",
        threshold=0.0,
    )


Q74_SQL = """
WITH dims AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
),
cd AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE) AS c
  FROM dims GROUP BY 1, 2
),
cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cd GROUP BY 1
),
scored AS (
  SELECT vec_id, e.label,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, len(e.embedding)),
               i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])),
           (a, b) -> a + b) /
         (sqrt(list_reduce(
            list_prepend(CAST(0 AS DOUBLE),
              list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)),
            (a, b) -> a + b)) *
          sqrt(list_reduce(
            list_prepend(CAST(0 AS DOUBLE),
              list_transform(c.centroid, x -> x * x)),
            (a, b) -> a + b))) AS cos
  FROM embeddings e JOIN cent c USING (label)
)
SELECT vec_id, label, ROUND(cos, 4) AS cos_c, ROUND(cos, 4) < 0.0 AS is_outlier
FROM scored
"""


# ---------------------------------------------------------------------------
# q75 — Bloom-filter decontamination gate (sketch-tier q71: fixed-size
# bitmap instead of the gram-string broadcast; no false negatives)
# ---------------------------------------------------------------------------

def q75_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_probe_counts

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        from ..functions.text import tokens
        from ..operators.curation import _word_ngrams

        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(
                F.array_distinct(_word_ngrams(tokens(F.col("text")), 3))
            ).alias("gram"),
        )

    bloom = bloom_build(grams(bench, "bench_id").select("gram").distinct(), "gram")
    # fan the corpus-side gram+probe stage (tokenize + 3-gram build +
    # md5 probes) to the data; round-robin placement cannot change the
    # per-doc counts
    from ..sources.io import ensure_min_partitions

    corpus_fanned = ensure_min_partitions(
        corpus.select("doc_id", "text"), cost="gram"
    )
    return bloom_probe_counts(
        grams(corpus_fanned, "doc_id"), bloom, "gram", "doc_id"
    )


def _q75_sql() -> str:
    from ..operators.sketches import BLOOM_BITS, BLOOM_K

    head, parts = _grams_sql(3)
    hexfold = _hexfold_sql("gram")
    slots = ", ".join(
        f"((h // {BLOOM_BITS**i}) % {BLOOM_BITS})" for i in range(BLOOM_K)
    )
    return f"""
WITH bench AS (SELECT doc_id AS id, {_TOKS} AS ts FROM documents WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id AS id, {_TOKS} AS ts FROM documents WHERE doc_id % 97 <> 0),
bg0 AS ({head} FROM bench),
bg AS (SELECT DISTINCT {parts} AS gram FROM bg0),
bh AS (SELECT unnest([{slots}]) AS bit
       FROM (SELECT {hexfold} AS h FROM bg)),
bloom AS (
  SELECT bit // 32 AS word_idx,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS BIGINT) AS word
  FROM bh GROUP BY 1),
cg0 AS ({head} FROM corpus),
cg AS (SELECT DISTINCT id AS doc_id, {parts} AS gram FROM cg0),
ch AS (SELECT doc_id, gram, unnest([{slots}]) AS bit
       FROM (SELECT doc_id, gram, {hexfold} AS h FROM cg)),
hits AS (
  SELECT doc_id, gram
  FROM ch
  JOIN bloom ON bit // 32 = word_idx
            AND (word & (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)))
                = (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT))
  GROUP BY 1, 2
  HAVING COUNT(*) = {BLOOM_K})
SELECT doc_id, COUNT(*) AS n_suspect FROM hits GROUP BY 1
"""


def q98_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores toward the 'src1' slice: the data-
    selection weight table a pipeline feeds into weighted_resample.
    Integer add-one-smoothed bigram frequency ratios (see
    operators/curation.py:dsir_scores for the log-ratio rationale)."""
    return ops.dsir_scores(
        read_table(spark, sf_dir, "documents"),
        "text", "doc_id", "source", "src1", n=2,
    )


def _q98_sql(target: str = "src1", cap_e4: int = 10**8) -> str:
    head, parts = _grams_sql(2)
    return f"""
WITH d AS (SELECT doc_id AS id, source, {_TOKS} AS ts
           FROM documents WHERE text IS NOT NULL),
g0 AS ({head}, source FROM d),
pd AS (SELECT id AS doc_id, source, {parts} AS gram, COUNT(*) AS c
       FROM g0 GROUP BY 1, 2, 3),
gc AS (SELECT gram,
              SUM(CASE WHEN source = '{target}' THEN c ELSE 0 END) AS t,
              SUM(CASE WHEN source <> '{target}' THEN c ELSE 0 END) AS r
       FROM pd GROUP BY 1),
s AS (SELECT doc_id, SUM(c) AS n_grams,
             SUM(c * least(((t + 1) * 10000) // (r + 1), {cap_e4})) AS sc
      FROM pd JOIN gc USING (gram) GROUP BY 1)
SELECT d0.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(sc, 0) // GREATEST(COALESCE(n_grams, 0), 1) AS BIGINT)
           AS importance_e4
FROM documents d0 LEFT JOIN s USING (doc_id)
"""


def q100_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation sequence (pipeline.build_curation_pipeline)
    as one hash-verified query: ingest gate (benchmark 3-gram
    decontamination + 2-gram repetition) → exact content dedup →
    MinHash-LSH near-dup clusters keep/drop → C4-style quality filter
    → deterministic train/val/test split. Every stage is an operator
    with its own oracled query (q71/q72, q34, q36, q66, q70, q69);
    this entry proves the COMPOSITION end-to-end — the oracle chains
    the same CTEs, including the recursive-CTE components over the
    minhash pair graph (hence the doc_id<200 gate bound, same as
    q66/q99; scale behavior of each stage is the smoke's job).
    Output: the surviving corpus with its split assignment."""
    from ..cache import own
    from ..pipeline import build_curation_pipeline

    allb = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    bench = allb.filter(F.col("doc_id") % 97 == 0)
    corpus = allb.filter(F.col("doc_id") % 97 != 0)
    pipe = build_curation_pipeline(corpus, bench)
    return own(
        pipe.final.select("doc_id", "split"), *pipe.cache_sources
    )


def _q100_sql() -> str:
    from ..functions.text import char_poly_hash_sql
    from ..operators import textops as tx
    from .dedup import components_ctes, minhash_pairs_ctes
    from .textops import quality_ctes

    head3, parts3 = _grams_sql(3)
    head2, parts2 = _grams_sql(2)
    split_hash = char_poly_hash_sql("CAST(doc_id AS VARCHAR) || ':split'")
    return f"""
WITH RECURSIVE allb AS (SELECT * FROM documents WHERE doc_id < 200),
bench AS (SELECT * FROM allb WHERE doc_id % 97 = 0),
corpus AS (SELECT * FROM allb WHERE doc_id % 97 <> 0),
bt AS (SELECT doc_id AS id, {_TOKS} AS ts FROM bench),
bg AS (SELECT DISTINCT {parts3} AS gram FROM ({head3} FROM bt)),
ct AS (SELECT doc_id AS id, {_TOKS} AS ts FROM corpus),
g3 AS (SELECT DISTINCT id, {parts3} AS gram FROM ({head3} FROM ct)),
g2 AS (SELECT id, {parts2} AS gram FROM ({head2} FROM ct)),
dup2 AS (SELECT id, COUNT(*) AS n2, COUNT(DISTINCT gram) AS n2d
         FROM g2 GROUP BY 1),
contam AS (SELECT DISTINCT g3.id FROM g3 JOIN bg USING (gram)),
admitted AS (
  SELECT c.* FROM corpus c
  LEFT JOIN dup2 d ON d.id = c.doc_id
  WHERE c.doc_id NOT IN (SELECT id FROM contam)
    AND c.text IS NOT NULL
    AND COALESCE((d.n2 - d.n2d) * 10000 // GREATEST(d.n2, 1), 0) <= 2000
),
keepers AS (SELECT MIN(doc_id) AS doc_id FROM admitted GROUP BY sha256(text)),
uniq AS (SELECT a.* FROM admitted a JOIN keepers USING (doc_id)),
{minhash_pairs_ctes('uniq')},
{components_ctes('uniq', 'mh_pairs')},
nd_keep AS (SELECT MIN(id) AS doc_id FROM comp GROUP BY cluster_id),
kept1 AS (SELECT u.* FROM uniq u JOIN nd_keep USING (doc_id)),
{quality_ctes('kept1')},
final AS (
  SELECT doc_id FROM quality
  WHERE n_tokens >= {tx.FILTER_MIN_TOKENS}
    AND stop_ratio_e4 <= {tx.FILTER_MAX_STOP_RATIO_E4}
    AND avg_token_len_e4 BETWEEN {tx.FILTER_MIN_AVG_LEN_E4}
        AND {tx.FILTER_MAX_AVG_LEN_E4}
)
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {split_hash} % 100 AS b FROM final)
"""


def q102_dsir_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR fit-once/score-many SERVING split: model fit on the
    doc_id<250 slice, every document scored against it — so documents
    outside the fit slice exercise the left-join NEUTRAL-term path
    (grams the model never saw score 1:1), which the one-pass q98
    can never reach. This is the batch form of the streaming twin
    (streaming/pipeline.py:dsir_score_stream)."""
    docs = read_table(spark, sf_dir, "documents")
    model = ops.dsir_model(
        docs.filter(F.col("doc_id") < 250), "text", "source", "src1", n=2
    )
    return ops.dsir_score_with_model(docs, model, "text", "doc_id", n=2)


def _q102_sql(target: str = "src1", cap_e4: int = 10**8) -> str:
    head, parts = _grams_sql(2)
    return f"""
WITH f AS (SELECT doc_id AS id, source, {_TOKS} AS ts
           FROM documents WHERE doc_id < 250 AND text IS NOT NULL),
fg AS (SELECT id, source, {parts} AS gram FROM ({head}, source FROM f)),
mc AS (SELECT gram,
              SUM(CASE WHEN source = '{target}' THEN 1 ELSE 0 END) AS t,
              SUM(CASE WHEN source <> '{target}' THEN 1 ELSE 0 END) AS r
       FROM fg GROUP BY 1),
d AS (SELECT doc_id AS id, {_TOKS} AS ts
      FROM documents WHERE text IS NOT NULL),
pd AS (SELECT id AS doc_id, {parts} AS gram, COUNT(*) AS c
       FROM ({head} FROM d) GROUP BY 1, 2),
s AS (SELECT doc_id, SUM(c) AS n_grams,
             SUM(c * least(((COALESCE(t, 0) + 1) * 10000)
                 // (COALESCE(r, 0) + 1), {cap_e4})) AS sc
      FROM pd LEFT JOIN mc USING (gram) GROUP BY 1)
SELECT d0.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(sc, 0) // GREATEST(COALESCE(n_grams, 0), 1) AS BIGINT)
           AS importance_e4
FROM documents d0 LEFT JOIN s USING (doc_id)
"""


def q104_dsir_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR serving against the FIXED-SIZE Count-Min model — the
    documented 100-TB model swap (operators/curation.py:dsir_scores
    'Scale shape'), made a first-class oracled query rather than a
    rows-only decision: the sketch is deterministic md5 arithmetic,
    so DuckDB renders the identical paired CMS (same hash family as
    the driver-green q75 Bloom / q57 HLL oracles). Same serving
    split as q102: fit on doc_id<250, score every document — grams
    outside the fit slice estimate (0,0) → the neutral 1:1 term."""
    docs = read_table(spark, sf_dir, "documents")
    cms = ops.dsir_model_cms(
        docs.filter(F.col("doc_id") < 250), "text", "source", "src1", n=2
    )
    return ops.dsir_score_with_cms_model(docs, cms, "text", "doc_id", n=2)


def _q104_sql(target: str = "src1", cap_e4: int = 10**8) -> str:
    head, parts = _grams_sql(2)
    hexfold = _hexfold_sql("gram")
    return f"""
WITH f AS (SELECT doc_id AS id, source, {_TOKS} AS ts
           FROM documents WHERE doc_id < 250 AND text IS NOT NULL),
fg AS (SELECT id, source, {parts} AS gram FROM ({head}, source FROM f)),
mc AS (SELECT gram,
              SUM(CASE WHEN source = '{target}' THEN 1 ELSE 0 END) AS t,
              SUM(CASE WHEN source <> '{target}' THEN 1 ELSE 0 END) AS r
       FROM fg GROUP BY 1),
mh AS (SELECT t, r, {hexfold} AS h FROM mc),
cms AS (SELECT i, (h >> CAST(16 * i AS INT)) & 65535 AS col,
               CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(r) AS BIGINT) AS sr
        FROM mh, range(3) tt(i) GROUP BY 1, 2),
d AS (SELECT doc_id AS id, {_TOKS} AS ts
      FROM documents WHERE text IS NOT NULL),
pd AS (SELECT id AS doc_id, {parts} AS gram, COUNT(*) AS c
       FROM ({head} FROM d) GROUP BY 1, 2),
dh AS (SELECT gram, {hexfold} AS h FROM (SELECT DISTINCT gram FROM pd)),
probes AS (SELECT gram, i, (h >> CAST(16 * i AS INT)) & 65535 AS col
           FROM dh, range(3) tt(i)),
est AS (SELECT gram, MIN(COALESCE(st, 0)) AS t, MIN(COALESCE(sr, 0)) AS r
        FROM probes LEFT JOIN cms USING (i, col) GROUP BY 1),
s AS (SELECT doc_id, SUM(c) AS n_grams,
             SUM(c * least(((t + 1) * 10000) // (r + 1), {cap_e4})) AS sc
      FROM pd JOIN est USING (gram) GROUP BY 1)
SELECT d0.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(sc, 0) // GREATEST(COALESCE(n_grams, 0), 1) AS BIGINT)
           AS importance_e4
FROM documents d0 LEFT JOIN s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q107 — semantic decontamination (r8): the embedding-tier benchmark
# overlap scan beside the n-gram (q71) and Bloom (q75) tiers —
# paraphrased eval items share no 13-gram but sit on top of the
# benchmark in embedding space. Benchmark = every 97th vector (a
# member slice, so hits are guaranteed: each bench vector matches
# itself at cos 1 plus its planted near-dups). Map-only broadcast
# GEMM; threshold 0.45 = q38's established boundary-safe cosine gate
# on this corpus.
# ---------------------------------------------------------------------------

def q107_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import semantic_decontamination
    from ..sources.io import read_table as _rt

    emb = _rt(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 97 == 0)
    return semantic_decontamination(
        emb, bench, "embedding", "vec_id", threshold=0.45
    )


Q107_SQL = """
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % 97 = 0),
hits AS (
  SELECT e.vec_id, COUNT(*) AS n
  FROM embeddings e JOIN b
    ON list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) >= 0.45
  GROUP BY e.vec_id)
SELECT e.vec_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_bench_hits,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM embeddings e LEFT JOIN hits h USING (vec_id)
"""


QUERIES = [
    Query("q71_decontamination", q71_decontamination, _q71_sql(),
          ("U2", "P4"), "benchmark n-gram decontamination (broadcast eval set)"),
    Query("q100_curation_pipeline", q100_curation_pipeline, _q100_sql(),
          ("U2", "A2", "F12", "P8"),
          "end-to-end curation pipeline: gate→dedup→near-dup→quality→split"),
    Query("q98_dsir_importance", q98_dsir_importance, _q98_sql(),
          ("A5", "F12"), "DSIR importance weights toward a target source"),
    Query("q72_repetition_stats", q72_repetition_stats, Q72_SQL,
          ("A5", "F6"), "Gopher-style repetition quality signals"),
    Query("q73_source_mix", q73_source_mix, Q73_SQL,
          ("A3",), "source-mix reweighting for data mixing"),
    Query("q74_embedding_outliers", q74_embedding_outliers, Q74_SQL,
          ("V1", "O2"), "per-label centroid cosine outlier flags"),
    Query("q75_bloom_decontam", q75_bloom_decontam, _q75_sql(),
          ("A4", "U2"), "Bloom-filter decontamination gate (portable sketch)"),
    Query("q102_dsir_serving", q102_dsir_serving, _q102_sql(),
          ("A5", "F12"), "DSIR fit-once/score-many serving split"),
    Query("q104_dsir_cms", q104_dsir_cms, _q104_sql(),
          ("A5", "F12"), "DSIR serving vs fixed-size Count-Min model"),
    Query("q107_semantic_decontam", q107_semantic_decontam, Q107_SQL,
          ("V1", "U2"),
          "embedding-tier benchmark decontamination (broadcast GEMM)"),
]
