"""Extended inventory: multimodal plumbing, IVF ANN, sessionization,
guardrails, and the embedding pipeline — the training-data-pipeline
surface beyond the reference's own operators (tasked alongside
SURVEY §2; graded as first-class components).

Oracle notes:
- documents.text is pure ASCII (verified), so DuckDB's VARCHAR md5 /
  ord() agree with Spark's byte-level md5 / payload bytes.
- q47 runs IVF with nprobe = k_clusters, which is exhaustive search —
  bit-identical to the brute-force oracle while still exercising the
  two-stage probe/scan plan.
- q51's vectors come from char_poly_hash feature hashing, which has
  an exact DuckDB twin — the oracle rebuilds the sparse normalized
  vectors in SQL (functions/embedder.py:embed_sql_vector_cte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import guardrails
from ..functions.embedder import embed
from ..operators import ivf, multimodal
from ..operators import similarity as sim
from ..sources.io import read_table
from ..streaming.pipeline import sessionize
from .registry import Query


# ---------------------------------------------------------------------------
# q44 — blob synthesis + stats (multimodal schema plumbing)
# ---------------------------------------------------------------------------

def q44_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synth_media(read_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.col("meta.width").alias("width"),
        F.col("meta.n_frames").alias("n_frames"),
    )


Q44_SQL = """
SELECT doc_id AS media_id,
       length(text) AS n_bytes,
       md5(text) AS digest,
       CAST(doc_id % 64 + 8 AS INT) AS width,
       CAST(doc_id % 30 + 1 AS INT) AS n_frames
FROM documents
"""


# ---------------------------------------------------------------------------
# q45 — payload byte-histogram features (mapInPandas featurizer)
# ---------------------------------------------------------------------------

def q45_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synth_media(read_table(spark, sf_dir, "documents"))
    feats = multimodal.byte_histogram(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("bin", "share")
    )


Q45_SQL = """
WITH chars AS (
  SELECT doc_id, ord(c) // 16 AS bin
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
  WHERE c != ''
),
counts AS (SELECT doc_id, bin, COUNT(*) AS cnt FROM chars GROUP BY 1, 2),
grid AS (SELECT doc_id, length(text) AS total, unnest(range(16)) AS bin
         FROM documents)
SELECT g.doc_id AS media_id, CAST(g.bin AS INT) AS bin,
       CAST(COALESCE(c.cnt, 0) AS DOUBLE) / g.total AS share
FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.bin = c.bin
"""


# ---------------------------------------------------------------------------
# q46 — video frame sampling (metadata fan-out, per-frame digest)
# ---------------------------------------------------------------------------

def q46_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synth_media(read_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media, every_n=5)


Q46_SQL = """
SELECT doc_id AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       sha256(md5(text) || ':' || frame_idx) AS frame_digest
FROM (SELECT doc_id, text,
             unnest(range(0, doc_id % 30 + 1, 5)) AS frame_idx
      FROM documents)
"""


# ---------------------------------------------------------------------------
# q47 — IVF ANN at nprobe = K (exhaustive ⇒ oracle-exact)
# ---------------------------------------------------------------------------

def q47_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cache import own

    emb = read_table(spark, sf_dir, "embeddings")
    index = ivf.ivf_build(emb, "embedding", "vec_id", k_clusters=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 5)
    # the index is plan-local (no independent lifetime), so its
    # persisted assignment frame rides on the result — same pattern
    # as q76/q79; a shared index would instead keep IvfIndex.release()
    return own(
        ivf.ivf_search(index, queries, "vec_id", k=5, nprobe=8),
        index.assigned,
    )


Q47_SQL = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
s AS (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS cos
      FROM c, q WHERE n_id != q_id)
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q48 — gap sessionization (islands pattern; streaming twin in tests)
# ---------------------------------------------------------------------------

def q48_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(read_table(spark, sf_dir, "events"), "30 minutes")


Q48_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
  FROM ordered)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q49/q50 — guardrail surface (emails injected deterministically so the
# masker has something to mask at any SF)
# ---------------------------------------------------------------------------

def _with_contact(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user."),
            F.col("doc_id").cast("string"),
            F.lit("@example.org or admin"),
            F.col("doc_id").cast("string"),
            F.lit("@corp.example.com."),
        ).alias("text"),
    )


def q49_guardrail_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_contact(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", guardrails.mask_emails(F.col("text")).alias("masked")
    )


# patterns spliced from the guardrails module itself (one source of
# truth — a pattern fix there flows into this oracle)
Q49_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           text || ' Contact: user.' || doc_id || '@example.org or admin'
                || doc_id || '@corp.example.com.',
           '__MASK_RE__',
           '\1***\3@\4', 'g'),
         '__SHORT_MASK_RE__',
         '\1***@\3', 'g') AS masked
FROM documents
""".replace("__MASK_RE__", guardrails._MASK_PATTERN).replace(
    "__SHORT_MASK_RE__", guardrails._SHORT_MASK_PATTERN
)


def q50_email_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_contact(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        guardrails.email_count(F.col("text")).alias("n_emails"),
        F.array_join(
            guardrails.email_domains(F.col("text")), ","
        ).alias("domains"),
    )


Q50_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(
         text || ' Contact: user.' || doc_id || '@example.org or admin'
              || doc_id || '@corp.example.com.',
         '__EMAIL_RE__')) AS INT) AS n_emails,
       list_aggregate(
         list_transform(
           regexp_extract_all(
             text || ' Contact: user.' || doc_id || '@example.org or admin'
                  || doc_id || '@corp.example.com.',
             '__EMAIL_RE__'),
           e -> string_split(e, '@')[2]),
         'string_agg', ',') AS domains
FROM documents
""".replace("__EMAIL_RE__", guardrails.EMAIL_PATTERN)


# ---------------------------------------------------------------------------
# q51 — embedding pipeline end-to-end (V1 + V2). The embedder hashes
# tokens with the repo's own char_poly_hash, which has an exact DuckDB
# twin — so the full embed→kNN pipeline is oracle-checked: the oracle
# rebuilds the sparse normalized vectors in SQL and ranks by the same
# cosine (dot of L2-normalized vectors; missing bucket overlap ≡ 0).
# ---------------------------------------------------------------------------

def q51_hash_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = embed(docs, "text", "vector", dim=64).select("doc_id", "vector")
    # embed the 3 query docs separately: hash embedding is per-row, so
    # filter-before-embed is legal and keeps the (recomputed) query
    # branch O(queries) instead of re-embedding the whole corpus
    queries = embed(
        docs.filter(F.col("doc_id") < 3), "text", "vector", dim=64
    ).select("doc_id", "vector")
    return sim.knn_bruteforce(
        vecs, queries, "vector", "doc_id", "doc_id", k=5, exclude_self=True
    )


def _q51_sql() -> str:
    from ..functions.embedder import embed_sql_vector_cte

    return f"""
WITH {embed_sql_vector_cte()},
grid AS (SELECT q.doc_id AS q_id, d.doc_id AS n_id
         FROM (SELECT doc_id FROM documents WHERE doc_id < 3) q,
              (SELECT doc_id FROM documents) d
         WHERE d.doc_id != q.doc_id),
dots AS (SELECT q.id AS q_id, d.id AS n_id, SUM(q.w * d.w) AS cos
         FROM vec q JOIN vec d ON q.b = d.b
         WHERE q.id < 3 AND d.id != q.id
         GROUP BY 1, 2),
scored AS (SELECT g.q_id, g.n_id, COALESCE(dt.cos, 0.0) AS cos
           FROM grid g LEFT JOIN dots dt
             ON g.q_id = dt.q_id AND g.n_id = dt.n_id)
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q52 — exact quantiles (sort-based percentile; rounded so the two
# engines' identical interpolation arithmetic stays comparable)
# ---------------------------------------------------------------------------

def q52_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 2).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


Q52_SQL = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
       COUNT(*) AS n
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q53 — CUBE grouping sets
# ---------------------------------------------------------------------------

def q53_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


Q53_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# q54 — as-of join (custom operator; DuckDB's native ASOF JOIN is the
# oracle). For each click, the user's latest purchase at-or-before it.
# ---------------------------------------------------------------------------

def q54_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
        value_cols=["purchase_value"],
    ).select("event_id", "user_id", "purchase_value")


# NOT DuckDB's ASOF JOIN: its tie handling for right rows sharing the
# max qualifying ts is unspecified, while the Spark operator
# deterministically keeps the greatest value among same-(key, ts)
# rows. The explicit window states the same total order, so the
# oracle stays stable even if the driver's regenerated events data
# ever contains two same-user purchases in the same microsecond.
Q54_SQL = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
ranked AS (
  SELECT l.event_id AS event_id, r.value AS value,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.value DESC) AS rn
  FROM l JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT l.event_id, l.user_id, ranked.value AS purchase_value
FROM l LEFT JOIN ranked ON ranked.event_id = l.event_id AND ranked.rn = 1
"""


QUERIES = [
    Query("q44_blob_stats", q44_blob_stats, Q44_SQL,
          ("multimodal",), "binary payload synthesis + digest/stat projection"),
    Query("q45_byte_histogram", q45_byte_histogram, Q45_SQL,
          ("multimodal",), "Arrow-batched byte-histogram featurizer"),
    Query("q46_frame_sample", q46_frame_sample, Q46_SQL,
          ("multimodal",), "frame sampling fan-out with per-frame digest"),
    Query("q47_ivf_knn", q47_ivf_knn, Q47_SQL,
          ("V2", "O2"), "IVF ANN (nprobe=K exhaustive, oracle-exact)"),
    Query("q48_sessionize", q48_sessionize, Q48_SQL,
          ("streaming",), "gap-based sessionization (islands pattern)"),
    Query("q49_guardrail_mask", q49_guardrail_mask, Q49_SQL,
          ("F4", "L11"), "email masking, pure regex (no UDF)"),
    Query("q50_email_stats", q50_email_stats, Q50_SQL,
          ("F3", "F5"), "email detection + domain extraction"),
    Query("q51_hash_embed_knn", q51_hash_embed_knn, _q51_sql(),
          ("V1", "V2"), "hash-embed + exact kNN (portable-hash oracle)"),
    Query("q52_percentiles", q52_percentiles, Q52_SQL,
          ("A3", "F12"), "exact quantiles per group"),
    Query("q53_cube", q53_cube, Q53_SQL,
          ("A3",), "CUBE grouping sets"),
    Query("q54_asof_join", q54_asof_join, Q54_SQL,
          ("J3",), "as-of join via union-tag window (one shuffle)"),
]


# ---------------------------------------------------------------------------
# q106 — multi-class PII scan (r8): the four-rule scrub a training
# corpus runs before text ships anywhere — the EXISTING email/phone/
# SSN guardrail rules (q67's trace tier) plus the new IPv4 class
# (guardrails.IPV4_PATTERN: network prefix kept, host octet masked),
# counted per class and masked in one pure-regexp chain (mask_pii).
# Patterns spliced from the guardrails module (one source of truth);
# the splice plants one deterministic instance of each class per doc
# from doc_id, so every count and every masked character is
# oracle-checkable.
# ---------------------------------------------------------------------------

def _with_pii4(docs: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Call 555-"),
            (F.lit(100) + F.pmod(i, F.lit(900))).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.pmod(i, F.lit(9000))).cast("string"),
            F.lit(" ssn "),
            (F.lit(100) + F.pmod(i, F.lit(900))).cast("string"),
            F.lit("-"),
            (F.lit(10) + F.pmod(i, F.lit(90))).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.pmod(i, F.lit(9000))).cast("string"),
            F.lit(" ip 10."),
            F.pmod(i, F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(i, F.lit(250)).cast("string"),
            F.lit("."),
            (F.lit(1) + F.pmod(i, F.lit(254))).cast("string"),
            F.lit(" mail user."),
            i.cast("string"),
            F.lit("@example.org now."),
        ).alias("text"),
    )


def q106_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_pii4(read_table(spark, sf_dir, "documents"))
    counts = guardrails.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        counts["email"].cast("long").alias("n_emails"),
        counts["phone"].cast("long").alias("n_phones"),
        counts["ssn"].cast("long").alias("n_ssn"),
        guardrails.ipv4_count(F.col("text")).alias("n_ipv4"),
        guardrails.mask_pii(F.col("text")).alias("masked"),
    )


_PII4_SPLICE_SQL = (
    "text || ' Call 555-' || (100 + doc_id % 900) || '-' || "
    "(1000 + doc_id % 9000) || ' ssn ' || (100 + doc_id % 900) || '-' || "
    "(10 + doc_id % 90) || '-' || (1000 + doc_id % 9000) || "
    "' ip 10.' || (doc_id % 256) || '.' || (doc_id % 250) || '.' || "
    "(1 + doc_id % 254) || ' mail user.' || doc_id || '@example.org now.'"
)

Q106_SQL = r"""
WITH p AS (SELECT doc_id, __SPLICE__ AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '__EMAIL_RE__')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '__PHONE_RE__', 2)) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(t, '__SSN_RE__', 2)) AS BIGINT)
         AS n_ssn,
       CAST(len(regexp_extract_all(t, '__IPV4_RE__')) AS BIGINT)
         AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '__MASK_RE__', '\1***\3@\4', 'g'),
               '__SHORT_MASK_RE__', '\1***@\3', 'g'),
             '__SSN_RE__', '\1XXX-XX-XXXX\3', 'g'),
           '__PHONE_RE__', '\1XXX-XXX-XXXX\4', 'g'),
         '__IPV4_RE__', '\1\2***\5', 'g') AS masked
FROM p
""".replace("__SPLICE__", _PII4_SPLICE_SQL).replace(
    "__PHONE_RE__", guardrails.PHONE_PATTERN
).replace(
    "__SSN_RE__", guardrails.SSN_PATTERN
).replace(
    "__IPV4_RE__", guardrails.IPV4_PATTERN
).replace(
    "__EMAIL_RE__", guardrails.EMAIL_PATTERN
).replace(
    "__MASK_RE__", guardrails._MASK_PATTERN
).replace(
    "__SHORT_MASK_RE__", guardrails._SHORT_MASK_PATTERN
)


QUERIES.append(
    Query("q106_pii_scan", q106_pii_scan, Q106_SQL,
          ("F3", "F4", "L11"),
          "4-rule PII scan: email/phone/SSN/IPv4 count + mask"),
)
