"""Driver-contract queries for the large-scale training-data ops
(deduplication, similarity search, text analysis) over the driver's
documents/embeddings tables, each with a value-identical DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


#: Explicit events schema.  ``ts`` is stored as parquet timestamp[us] with
#: isAdjustedToUTC=false; declaring it TIMESTAMP_NTZ here pins the read to
#: the raw stored micros regardless of the session's
#: ``spark.sql.parquet.inferTimestampNTZ.enabled`` / ``timestampType`` /
#: ``session.timeZone`` settings — an LTZ read would shift the micros by the
#: session zone and break bit-equality with the DuckDB oracle's epoch_us.
_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _events(spark, sf_dir):
    return spark.read.schema(_EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet")


# --- dedup -----------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from .dedup import normalize_text

    return (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("representative"))
    )


_SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS representative
FROM documents
GROUP BY 1
"""


def q_minhash_pairs(spark, sf_dir):
    from .dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(
        _docs(spark, sf_dir), bands=8, shingle_n=3, max_bucket_size=64
    )


# shared corpus-derivation CTEs for the shingle-based queries
_SHINGLES_CTE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(0, len(words) - 3),
                                      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
  FROM d WHERE len(words) >= 3
)
"""


def _minhash_pairs_sql(bands: int = 8, max_bucket_size: int = 64) -> str:
    """Generated from the SAME permutation constants the Spark plan uses
    (dedup.minhash_perm_constants) — constants can never drift apart."""
    from .dedup import MINHASH_P, minhash_perm_constants

    values = ", ".join(
        f"({b}, {a}, {c})" for b, (a, c) in enumerate(minhash_perm_constants(bands))
    )
    return f"""
{_SHINGLES_CTE},
hs AS (
  SELECT doc_id,
         list_transform(sh, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, 15),
               i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b) % {MINHASH_P}) AS hs
  FROM s WHERE len(sh) > 0
),
consts(band, ca, cc) AS (VALUES {values}),
sig AS (
  SELECT doc_id, band,
         list_min(list_transform(hs, h -> (ca * h + cc) % {MINHASH_P})) AS sig
  FROM hs, consts
),
capped AS (
  SELECT * FROM sig
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {max_bucket_size}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_minhash_verified(spark, sf_dir):
    """LSH candidates + exact Jaccard verification (the production pattern:
    verification cost scales with candidates, not shingle co-occurrence)."""
    from .dedup import minhash_jaccard_verified

    return minhash_jaccard_verified(
        _docs(spark, sf_dir), bands=8, shingle_n=3, threshold=0.12,
        max_bucket_size=64,
    )


def _minhash_verified_sql(bands: int = 8, max_bucket_size: int = 64) -> str:
    pairs = _minhash_pairs_sql(bands, max_bucket_size)
    return f"""
WITH cand AS ({pairs}),
dsh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(0, len(words) - 3),
                                      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
  WHERE len(words) >= 3
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM cand
JOIN dsh a ON a.doc_id = cand.doc_a
JOIN dsh b ON b.doc_id = cand.doc_b
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.12
"""


def q_simhash(spark, sf_dir):
    from .dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


# 64-bit simhash: bit i = majority of bit (i%4) of hex digit (i//4) of
# md5(word); md5 computed once per word on both engines
_SIMHASH_SIG_CTE = """
WITH w AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), x -> md5(x)) AS mw,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE text IS NOT NULL
),
sig AS (
  SELECT doc_id,
         array_to_string(
           list_transform(generate_series(0, 63),
             i -> CASE WHEN 2 * len(list_filter(mw,
                         m -> ((strpos('0123456789abcdef',
                                       substr(m, CAST(i // 4 AS INT) + 1, 1)) - 1)
                               // CAST(pow(2, i % 4) AS INT)) % 2 = 1))
                          > n
                  THEN '1' ELSE '0' END),
           '') AS simhash
  FROM w
)
"""

_SQL_SIMHASH = _SIMHASH_SIG_CTE + "\nSELECT doc_id, simhash FROM sig\n"


def q_simhash_pairs(spark, sf_dir):
    from .dedup import simhash_hamming_pairs

    # max_distance < bands: the banded join is COMPLETE for distance <= 3
    # (pigeonhole) — round-2 advice: distance 16 with 4 bands silently missed
    # pairs differing in every band
    return simhash_hamming_pairs(
        _docs(spark, sf_dir), max_distance=3, bands=4, max_bucket_size=64
    )


_SQL_SIMHASH_PAIRS = _SIMHASH_SIG_CTE + """,
e AS (
  SELECT doc_id, simhash, u.band AS band,
         substr(simhash, u.band * 16 + 1, 16) AS key
  FROM sig, unnest(generate_series(0, 3)) AS u(band)
),
capped AS (
  SELECT * FROM e QUALIFY count(*) OVER (PARTITION BY band, key) <= 64
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key
                              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(generate_series(1, 64),
                i -> substr(sa, CAST(i AS INT), 1) <> substr(sb, CAST(i AS INT), 1)))
              AS INT) AS hamming
  FROM cand
) WHERE hamming <= 3
"""


def q_ngram_jaccard(spark, sf_dir):
    from .dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), shingle_n=3, threshold=0.12, max_shingle_df=64
    )


_SQL_NGRAM_JACCARD = _SHINGLES_CTE + """,
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
e0 AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
e AS (
  -- document-frequency cap, mirrored from the Spark plan: hot shingles are
  -- excluded from the intersection join (df > 64)
  SELECT * FROM e0 QUALIFY count(*) OVER (PARTITION BY shingle) <= 64
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
"""


# --- similarity ------------------------------------------------------------


def q_cosine_threshold(spark, sf_dir):
    from .similarity import cosine_pairs_threshold

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_pairs_threshold(emb, n_queries=5, threshold=0.2)


# sequential left-fold via list_reduce reproduces Spark's aggregate() order →
# bit-identical doubles before rounding
_SQL_COSINE_THRESHOLD = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(b.emb)),
                     i -> q.q_emb[i] * b.emb[i])), (a, x) -> a + x)
         / (sqrt(list_reduce(list_prepend(0.0, list_transform(q.q_emb, x -> x * x)), (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(b.emb, x -> x * x)), (a, x) -> a + x)))
         AS c
  FROM base b, q WHERE b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, round(c, 4) AS cosine
FROM pairs WHERE round(c, 4) >= 0.2
"""


def q_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (window rank inside buckets).  The
    hyperplane bits are md5-derived, so the DuckDB oracle reproduces the
    buckets, cosines, and ranks exactly."""
    from .similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_lsh(emb, n_queries=5, k=5, n_planes=4)


# sequential list_reduce folds reproduce Spark's aggregate() order → the
# projections/cosines are bit-identical doubles; hyperplane sign h_p[d] =
# ±1 from the first hex digit of md5('p|d') mirrors similarity.hyperplane_bit
_SQL_ANN_TOPK = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
bk AS (
  SELECT vec_id, emb,
         array_to_string(list_transform(generate_series(0, 3), pl ->
           CASE WHEN list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)),
                    d -> emb[d] * CAST(((strpos('0123456789abcdef',
                           substr(md5(CAST(pl AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1)
                           % 2) * 2 - 1 AS DOUBLE))),
                  (a, b) -> a + b) >= 0
           THEN '1' ELSE '0' END), '') AS bucket
  FROM base
),
q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM bk WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(
           list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(b.emb)),
                       i -> q.q_emb[i] * b.emb[i])), (a, x) -> a + x)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(q.q_emb, x -> x * x)), (a, x) -> a + x))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(b.emb, x -> x * x)), (a, x) -> a + x))),
           4) AS cosine
  FROM bk b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM pairs
QUALIFY rank <= 5
"""


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (deterministic centroid sample, nearest-list
    assignment, 2-probe search) — fully oracle-checked incl. ranks."""
    from .similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, n_queries=5, k=5, probes=2, n_centroids=32)


# sequential-fold cosine as a SQL macro body (bit-identical to Spark's
# aggregate(): dot, |a|, |b| each folded left in element order)
def _cos_sql(a: str, b: str) -> str:
    return f"""(
      list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({b})),
                  i -> {a}[i] * {b}[i])), (x, y) -> x + y)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), (x, y) -> x + y))
         * sqrt(list_reduce(list_prepend(0.0, list_transform({b}, x -> x * x)), (x, y) -> x + y)))
    )"""


_SQL_IVF_TOPK = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
cents AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM base
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
scored AS (
  SELECT b.vec_id, b.emb, c.centroid_id, {_cos_sql('b.emb', 'c.c_emb')} AS c_cos
  FROM base b CROSS JOIN cents c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY c_cos DESC, centroid_id) AS crank
  FROM scored
),
assigned AS (SELECT vec_id, emb, centroid_id FROM ranked WHERE crank = 1),
probe AS (SELECT vec_id AS query_id, emb AS q_emb, centroid_id
          FROM ranked WHERE vec_id < 5 AND crank <= 2),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_cos_sql('p.q_emb', 'a.emb')}, 4) AS cosine
  FROM assigned a JOIN probe p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM cand
QUALIFY rank <= 5
"""


# hyperplane-bucket CTE shared by the semantic-dedup oracles (same md5
# formula as _SQL_ANN_TOPK / similarity.hyperplane_bit, 4 planes)
_BUCKETS_CTE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
bk AS (
  SELECT vec_id, emb,
         array_to_string(list_transform(generate_series(0, 3), pl ->
           CASE WHEN list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)),
                    d -> emb[d] * CAST(((strpos('0123456789abcdef',
                           substr(md5(CAST(pl AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1)
                           % 2) * 2 - 1 AS DOUBLE))),
                  (a, b) -> a + b) >= 0
           THEN '1' ELSE '0' END), '') AS bucket
  FROM base
),
capped AS (
  SELECT * FROM bk QUALIFY count(*) OVER (PARTITION BY bucket) <= 64
)
"""


def q_semantic_pairs(spark, sf_dir):
    """Embedding near-dup pairs (SemDeDup-style): same-LSH-bucket vectors
    with exact cosine >= 0.3 — the embedding-space sibling of the
    MinHash/SimHash candidate generators."""
    from .similarity import semantic_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_pairs(emb, threshold=0.3, n_planes=4)


_SQL_SEMANTIC_PAIRS = _BUCKETS_CTE + f""",
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         round({_cos_sql('a.emb', 'b.emb')}, 4) AS cosine
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT DISTINCT doc_a, doc_b, cosine FROM pairs WHERE cosine >= 0.3
"""


def q_semantic_dedup(spark, sf_dir):
    """vec_ids surviving embedding near-dup removal: connected components
    over the semantic pairs, keep min vec_id per component."""
    from .similarity import semantic_dedup_keep

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup_keep(emb, threshold=0.3, n_planes=4)


_SQL_SEMANTIC_DEDUP = _BUCKETS_CTE + f""",
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({_cos_sql('a.emb', 'b.emb')}, 4) >= 0.3
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
),
cc AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster)
"""


def q_events_window(spark, sf_dir):
    """Tumbling event-time windows over the events table — the batch form of
    the streaming watermark+window aggregation (streaming twin tested in
    tests/test_streaming.py).  Window start rendered as a local wall-clock
    string and the value sum in integer cents, so the result is identical
    across engines, time zones, and parallelism."""
    from pyspark.sql import functions as F

    from ..streaming.windows import tumbling_counts

    events = _events(spark, sf_dir)
    return tumbling_counts(events, minutes=5).select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


_SQL_EVENTS_WINDOW = """
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def q_knn_exact(spark, sf_dir):
    from .similarity import knn_topk_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn_topk_exact(emb, n_queries=5, k=5)


_SQL_KNN_EXACT = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round({_cos_sql('q.q_emb', 'b.emb')}, 4) AS cosine
  FROM base b, q WHERE b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM pairs
QUALIFY rank <= 5
"""


def q_ann_recall(spark, sf_dir):
    """recall@5 of the LSH ANN vs the exact top-5 — quality metric, fully
    SQL-expressible end to end."""
    from .similarity import ann_recall_at_k

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_recall_at_k(emb, n_queries=5, k=5, n_planes=4)


_SQL_ANN_RECALL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  -- valid-embedding gate (similarity.valid_embeddings): NULL or zero-norm
  -- vectors have no direction; the engine drops them before any cosine
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
bk AS (
  SELECT vec_id, emb,
         array_to_string(list_transform(generate_series(0, 3), pl ->
           CASE WHEN list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)),
                    d -> emb[d] * CAST(((strpos('0123456789abcdef',
                           substr(md5(CAST(pl AS VARCHAR) || '|' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1)
                           % 2) * 2 - 1 AS DOUBLE))),
                  (a, b) -> a + b) >= 0
           THEN '1' ELSE '0' END), '') AS bucket
  FROM base
),
qb AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM bk WHERE vec_id < 5),
ann_pairs AS (
  SELECT qb.query_id, b.vec_id AS neighbor_id,
         round({_cos_sql('qb.q_emb', 'b.emb')}, 4) AS cosine
  FROM bk b JOIN qb ON b.bucket = qb.bucket AND b.vec_id <> qb.query_id
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ann_pairs
  ) WHERE rank <= 5
),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 5),
exact_pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round({_cos_sql('q.q_emb', 'b.emb')}, 4) AS cosine
  FROM base b, q WHERE b.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM exact_pairs
  ) WHERE rank <= 5
),
hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM exact JOIN ann USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT query_id,
       CAST(coalesce(n_hit, 0) AS INT) AS n_hit,
       coalesce(n_hit, 0) / 5 AS recall
FROM (SELECT DISTINCT query_id FROM exact)
LEFT JOIN hits USING (query_id)
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters over the MinHash candidate pairs: connected
    components, cluster = min doc_id in component (iterative min-label
    propagation; oracle = DuckDB recursive CTE transitive closure)."""
    from .dedup import connected_components, minhash_candidate_pairs

    pairs = minhash_candidate_pairs(
        _docs(spark, sf_dir), bands=8, shingle_n=3, max_bucket_size=64
    )
    return connected_components(pairs)


def _dedup_clusters_sql() -> str:
    pairs = _minhash_pairs_sql(bands=8, max_bucket_size=64)
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster
FROM reach GROUP BY src
"""


def q_cluster_histogram(spark, sf_dir):
    """Dedup observability: distribution of near-dup cluster sizes (how much
    of the corpus collapses, and into how many groups) — the number you
    watch when tuning bands/thresholds at scale."""
    from pyspark.sql import functions as F

    cc = q_dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            F.col("n_clusters").cast("int").alias("n_clusters"),
        )
    )


def _cluster_histogram_sql() -> str:
    return f"""
WITH cc AS ({_dedup_clusters_sql()}),
sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT CAST(cluster_size AS INT) AS cluster_size,
       CAST(count(*) AS INT) AS n_clusters
FROM sizes GROUP BY 1
"""


def q_curation_keep(spark, sf_dir):
    """The composed curation funnel end-to-end: quality gate → exact dedup →
    near-dup representatives; the FULL composition is value-checked, not
    just its pieces."""
    from .pipeline import curate_corpus

    return curate_corpus(_docs(spark, sf_dir))


def _curation_sql(bands: int = 8, max_bucket_size: int = 64) -> str:
    from .dedup import MINHASH_P, minhash_perm_constants

    values = ", ".join(
        f"({b}, {a}, {c})" for b, (a, c) in enumerate(minhash_perm_constants(bands))
    )
    return f"""
WITH g AS (
  SELECT doc_id FROM (
    SELECT doc_id, len(words) AS n,
           floor((nc - (len(words) - 1)) * 10000 / len(words)) AS mwl,
           CASE WHEN nc > 0
                THEN floor(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 10000 / nc)
                ELSE 10000 END AS sym,
           len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS sh
    FROM (SELECT doc_id, text, string_split(text, ' ') AS words, length(text) AS nc
          FROM documents)
  ) WHERE n >= 5 AND n <= 100000 AND mwl >= 20000 AND mwl <= 120000
        AND sym <= 1000 AND sh >= 1
),
s1 AS (SELECT d.doc_id, d.text FROM documents d JOIN g USING (doc_id)),
ex AS (
  SELECT min(doc_id) AS doc_id FROM s1
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN ex USING (doc_id)),
d2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM s2),
sh2 AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(0, len(words) - 3),
                                      i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
  FROM d2 WHERE len(words) >= 3
),
hs AS (
  SELECT doc_id,
         list_transform(sh, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, 15),
               i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b) % {MINHASH_P}) AS hs
  FROM sh2 WHERE len(sh) > 0
),
consts(band, ca, cc) AS (VALUES {values}),
sig AS (
  SELECT doc_id, band,
         list_min(list_transform(hs, h -> (ca * h + cc) % {MINHASH_P})) AS sig
  FROM hs, consts
),
capped AS (
  SELECT * FROM sig
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {max_bucket_size}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
                             AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src
),
dropd AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster)
SELECT doc_id FROM s2
WHERE doc_id NOT IN (SELECT doc_id FROM dropd)
"""


# --- text analysis ----------------------------------------------------------


def q_token_count(spark, sf_dir):
    from .textstats import token_count

    return token_count(_docs(spark, sf_dir))


_SQL_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
       CAST(ceil(length(text) / 4.0) AS INT) AS n_subword_est
FROM documents
"""


def q_bpe_token_count(spark, sf_dir):
    from .textstats import bpe_token_count

    return bpe_token_count(_docs(spark, sf_dir))


_SQL_BPE_TOKEN_COUNT = """
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_regex_tokens,
       CASE WHEN toks IS NULL THEN NULL
            ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))),
                   (a, b) -> a + b) AS INT) END AS n_pieces
FROM t
"""


def q_quality_score(spark, sf_dir):
    from .textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


_SQL_QUALITY_SCORE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words, length(text) AS nc FROM documents
),
r AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
         CAST(len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
           / len(words) AS stop_ratio,
         CAST(nc - (len(words) - 1) AS DOUBLE) / len(words) AS mean_wlen
  FROM w
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(floor(distinct_ratio * 10000) AS INT) AS distinct_ratio_bp,
       CAST(floor(stop_ratio * 10000) AS INT) AS stopword_ratio_bp,
       CAST(floor(mean_wlen * 10000) AS INT) AS mean_word_len_bp,
       CAST(floor((distinct_ratio * 0.5 + least(stop_ratio * 2, 1.0) * 0.3
             + least(mean_wlen / 8, 1.0) * 0.2) * 10000) AS INT) AS quality_bp
FROM r
"""


def q_quality_bins(spark, sf_dir):
    """Exact quality-decile binning (ops/quantiles.py): histogram-derived
    value thresholds (ties never split, no global sort), map-only assign
    via a broadcast threshold array."""
    from .quantiles import quality_quantile_bins

    return quality_quantile_bins(_docs(spark, sf_dir), n_bins=10)


# thresholds replayed with the same integer-exact rule the engine uses:
# t_k = min{v : cum(v)*B >= k*N}; bin(v) = 1 + #{k : v > t_k}
_SQL_QUALITY_BINS = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words, length(text) AS nc FROM documents
),
r AS (
  SELECT doc_id,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
         CAST(len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
           / len(words) AS stop_ratio,
         CAST(nc - (len(words) - 1) AS DOUBLE) / len(words) AS mean_wlen
  FROM w
),
s AS (
  SELECT doc_id,
         CAST(floor((distinct_ratio * 0.5 + least(stop_ratio * 2, 1.0) * 0.3
               + least(mean_wlen / 8, 1.0) * 0.2) * 10000) AS INT) AS q
  FROM r
  WHERE distinct_ratio IS NOT NULL
),
h AS (SELECT q, count(*) AS c FROM s GROUP BY q),
cum AS (
  SELECT q, sum(c) OVER (ORDER BY q) AS cc, sum(c) OVER () AS n FROM h
),
th AS (
  SELECT g.k, min(q) AS t
  FROM cum CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) g
  WHERE cc * 10 >= g.k * n
  GROUP BY g.k
),
ts AS (SELECT list_sort(list(t)) AS ts FROM th)
SELECT s.doc_id, s.q AS quality_bp,
       CAST(1 + len(list_filter(ts.ts, t -> s.q > t)) AS INT) AS bin
FROM s, ts
"""


def q_lang_id(spark, sf_dir):
    from .textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


_SQL_LANG_ID = """
WITH w AS (
  SELECT doc_id, lang AS lang_label, string_split(text, ' ') AS words FROM documents
),
h AS (
  SELECT doc_id, lang_label,
    CAST(len(list_filter(words, x -> x IN ('der','die','das','und','zu','ist','ein'))) AS INT) AS hits_de,
    CAST(len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS INT) AS hits_en,
    CAST(len(list_filter(words, x -> x IN ('el','la','de','que','y','en','un'))) AS INT) AS hits_es,
    CAST(len(list_filter(words, x -> x IN ('le','la','de','et','un','est','que'))) AS INT) AS hits_fr
  FROM w
)
SELECT doc_id, lang_label, hits_de, hits_en, hits_es, hits_fr,
  CASE
    WHEN hits_de > 0 AND hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
    WHEN hits_en > 0 AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
    WHEN hits_es > 0 AND hits_es >= hits_fr THEN 'es'
    WHEN hits_fr > 0 THEN 'fr'
    ELSE 'und'
  END AS lang_pred
FROM h
"""


def q_fingerprint(spark, sf_dir):
    from .textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


_SQL_FINGERPRINT = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM n)
SELECT doc_id,
       md5(norm) AS fingerprint,
       list_min(list_transform(generate_series(0, CAST(floor((len(words) - 1) / 16) AS INT)),
                i -> md5(array_to_string(list_slice(words, i*16 + 1, i*16 + 16), ' ')))) AS min_block_fp
FROM w
"""


def q_web_pipeline2(spark, sf_dir):
    """End-to-end page pipeline over RAW BYTES, chaining this round's
    stages: payload → WHATWG charset sniff + decode (ops/charset) →
    soft-404 gate (ops/webmeta) → jusText main content (ops/html) →
    per-host site-template strip (ops/textstats).  Per doc_id%4: two
    utf-8 classes with doc-text paragraphs, a windows-1252 page with a
    meta declaration and an 0xE9 byte, and a soft-404 page that must die
    at the gate.  Every page carries its host's nav header + copyright
    footer paragraphs — jusText keeps them (long, link-free), so ONLY the
    template strip can remove them.  The oracle replays all four stages."""
    from pyspark.sql import functions as F

    from .charset import decode_payload_text, detect_charset
    from .html import html_main_content
    from .textstats import host_template_strip
    from .webmeta import soft404_detect

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
    )
    m4 = F.pmod(F.col("doc_id"), 4)
    hsrc = F.regexp_replace(
        F.coalesce(F.col("source"), F.lit("nosrc")), "[^A-Za-z0-9.-]", "-"
    )
    hdr = F.concat(F.lit("home about contact menu for "), hsrc)
    ftr = F.concat(F.lit("copyright "), hsrc, F.lit(" all rights reserved"))
    # paragraphs: 12-word slices of the <>&-sanitized text (sanitized so
    # block segmentation and tag-strip are identity on the para content —
    # the oracle replays slices, not a full HTML parse)
    ptext = F.regexp_replace("text", "[<>&]", " ")
    words = F.split(ptext, " ")
    paras_html = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(words) / 12).cast("int") - 1),
            lambda i: F.concat(
                F.lit("<p>"), F.array_join(F.slice(words, i * 12 + 1, 12), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    page = F.concat(
        F.lit("<html><head><title>Doc</title></head><body><p>"), hdr,
        F.lit("</p>"), paras_html, F.lit("<p>"), ftr,
        F.lit("</p></body></html>"),
    )
    page_1252 = F.concat(
        F.lit('<html><head><meta charset="windows-1252"><title>Doc</title>'
              "</head><body><p>"), hdr,
        F.lit("</p><p>café fixed menu paragraph here</p><p>"), ftr,
        F.lit("</p></body></html>"),
    )
    page_404 = (
        "<html><head><title>404 Not Found</title></head>"
        "<body><p>this page has been removed</p></body></html>"
    )
    payload = (
        F.when(m4 == 1, F.encode(page_1252, "ISO-8859-1"))
        .when(m4 == 3, F.encode(F.lit(page_404), "UTF-8"))
        .otherwise(F.encode(page, "UTF-8"))
    )
    # FIXTURE-ONLY barrier: CollapseProject inlines the page-synthesis +
    # charset-decode expression into EVERY downstream reference (soft-404
    # probes body text 4×, jusText ~20×, template strip a few more — the
    # tree multiplies until one task grinds for minutes; a plain
    # repartition() does NOT stop it, projections push through exchanges).
    # An Aggregate is a genuine collapse boundary: downstream reads the agg
    # output attribute, same as the parquet-fed warc_charset/html_extract
    # paths.  doc_id is unique so groupBy+first is an identity with one
    # keyed shuffle.  Production pages arrive as plain parquet/WARC columns
    # and need no barrier.
    pages = d.select("doc_id", "source", payload.alias("payload"))
    decoded = (
        decode_payload_text(detect_charset(pages))
        .groupBy("doc_id")
        .agg(F.first("source").alias("source"), F.first("text").alias("text"))
    )
    gated = soft404_detect(decoded, html_col="text").filter(~F.col("soft404"))
    main = html_main_content(
        gated.select("doc_id", "text"), html_col="text"
    ).join(gated.select("doc_id", "source"), "doc_id")
    return host_template_strip(
        main.select("doc_id", "source", F.col("main_text").alias("text"))
    )


_ERR_BODY_SQL = (
    r"(?is)(page\s+(?:you\s+requested\s+)?(?:was\s+)?not\s+found"
    r"|no\s+longer\s+available|has\s+been\s+(?:removed|deleted)"
    r"|404\s+error)"
)

_SQL_WEB_PIPELINE2 = rf"""
WITH raw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 4 AS m,
         coalesce(source, '') AS host,
         regexp_replace(coalesce(source, 'nosrc'), '[^A-Za-z0-9.-]', '-', 'g')
           AS hsrc,
         regexp_replace(text, '[<>&]', ' ', 'g') AS ptext
  FROM documents WHERE text IS NOT NULL
),
cfg AS (
  SELECT doc_id, m, host,
         'home about contact menu for ' || hsrc AS hdr,
         'copyright ' || hsrc || ' all rights reserved' AS ftr,
         string_split(ptext, ' ') AS words
  FROM raw WHERE m <> 3
),
paras AS (
  SELECT doc_id, host, hdr, ftr,
         CASE WHEN m = 1 THEN ['caf' || chr(233) || ' fixed menu paragraph here']
              ELSE list_transform(
                generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
                i -> trim(regexp_replace(
                       array_to_string(list_slice(words, i*12 + 1, i*12 + 12), ' '),
                       '\s+', ' ', 'g')))
         END AS plist
  FROM cfg
),
gated AS (
  SELECT *,
    trim(regexp_replace('Doc ' || hdr || ' ' || array_to_string(plist, ' ')
                        || ' ' || ftr, '\s+', ' ', 'g')) AS vis
  FROM paras
),
keep AS (
  SELECT doc_id, host, hdr, ftr, plist FROM gated
  WHERE NOT (regexp_matches(vis, '{_ERR_BODY_SQL}')
             AND len(string_split(vis, ' ')) < 30)
),
blocks AS (
  SELECT doc_id, host,
         list_concat(list_concat([hdr],
           list_filter(plist, p -> len(p) >= 20)), [ftr]) AS bl
  FROM keep
),
l AS (
  SELECT doc_id, host, u.i AS line_idx, list_extract(bl, u.i + 1) AS line
  FROM blocks, unnest(generate_series(0, len(bl) - 1)) AS u(i)
),
hp AS (SELECT host, count(*) AS n_pages FROM keep GROUP BY host),
ldf AS (
  SELECT host, md5(trim(line)) AS line_key, count(DISTINCT doc_id) AS df
  FROM l WHERE trim(line) <> '' GROUP BY 1, 2
),
tpl AS (
  SELECT ldf.host, ldf.line_key FROM ldf JOIN hp USING (host)
  WHERE hp.n_pages >= 3 AND ldf.df * 10000 >= 5000 * hp.n_pages
),
k AS (
  SELECT l.doc_id, l.line_idx, l.line FROM l
  WHERE NOT EXISTS (SELECT 1 FROM tpl
                    WHERE tpl.host = l.host
                      AND tpl.line_key = md5(trim(l.line)))
)
SELECT t.doc_id,
       coalesce(kk.clean_text, '') AS clean_text,
       CAST(coalesce(kk.n_kept, 0) AS INT) AS n_kept,
       CAST(t.n_total - coalesce(kk.n_kept, 0) AS INT) AS n_dropped
FROM (SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id) t
LEFT JOIN (SELECT doc_id,
                  array_to_string(list(line ORDER BY line_idx), ' ')
                    AS clean_text,
                  count(*) AS n_kept
           FROM k GROUP BY doc_id) kk USING (doc_id)
"""


def q_feed_parse(spark, sf_dir):
    """RSS/Atom feed parsing (ops/webmeta.parse_feed): a 2-item RSS feed,
    a 1-entry Atom feed (href link, <updated> date), and a non-feed page
    (one NULL-kind accounting row)."""
    from pyspark.sql import functions as F

    from .webmeta import parse_feed

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    m3 = F.pmod(F.col("doc_id"), 3)
    xml = (
        F.when(m3 == 0, F.concat(
            F.lit("<rss><channel><item><title>Post "), i,
            F.lit("</title><link>https://ex.com/r/"), i,
            F.lit("</link><pubDate>Mon, 02 Mar 2020 00:00:00 GMT</pubDate>"
                  "</item><item><title>Old "), i,
            F.lit("</title><link>https://ex.com/o/"), i,
            F.lit("</link></item></channel></rss>")))
        .when(m3 == 1, F.concat(
            F.lit('<feed><entry><title>Atom '), i,
            F.lit('</title><link rel="alternate" href="https://ex.com/a/'),
            i, F.lit('"/><updated>2021-05-06T00:00:00Z</updated>'
                     "</entry></feed>")))
        .otherwise(F.lit("<html>not a feed</html>"))
    )
    return parse_feed(d.select("doc_id", xml.alias("xml")))


_SQL_FEED_PARSE = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 3 AS m,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents)
SELECT doc_id, CAST(0 AS INT) AS entry_no, 'rss' AS kind,
       'Post ' || i AS title, 'https://ex.com/r/' || i AS link,
       'Mon, 02 Mar 2020 00:00:00 GMT' AS published
FROM d WHERE m = 0
UNION ALL
SELECT doc_id, CAST(1 AS INT), 'rss', 'Old ' || i,
       'https://ex.com/o/' || i, NULL
FROM d WHERE m = 0
UNION ALL
SELECT doc_id, CAST(0 AS INT), 'atom', 'Atom ' || i,
       'https://ex.com/a/' || i, '2021-05-06T00:00:00Z'
FROM d WHERE m = 1
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL
FROM d WHERE m = 2
"""


def _layout_boxes(spark, sf_dir):
    """Synthesized page text layers for the XY-cut queries: the first 22
    words of each ≥22-word document laid out as a 2-word full-width title
    band over a 10-line left column and a 10-line right column, the array
    DETERMINISTICALLY SHUFFLED by md5(doc_id, j) — extraction order is not
    reading order, which is the whole problem.  Geometry puts the title/
    body y-gap at 24 (≥ H_GAP 20), the inter-column x-gap at 320 (≥ V_GAP
    30), intra-column line gaps at 8 and the title's inter-word x-gap at
    20 (both below threshold), so the reading order is the closed form
    word index j — the oracle needs no recursion."""
    from pyspark.sql import functions as F

    words = F.split(
        F.trim(F.regexp_replace("text", r"\s+", " ")), " "
    )
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 22).alias("w"),
        )
        .filter(F.size("w") >= 22)
    )

    def geom(j):
        title = j < F.lit(2)
        left = j < F.lit(12)
        return (
            F.when(title, 50 + 200 * j).when(left, F.lit(50)).otherwise(450),
            F.when(title, F.lit(0))
            .when(left, 40 + 20 * (j - 2))
            .otherwise(40 + 20 * (j - 12)),
            F.when(title, F.lit(180)).otherwise(80),
            F.when(title, F.lit(16)).otherwise(12),
        )

    def keyed_box(wtext, j):
        x, y, bw, bh = geom(j)
        return F.struct(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                         j.cast("string"))
            ).alias("key"),
            x.cast("int").alias("x"),
            y.cast("int").alias("y"),
            bw.cast("int").alias("w"),
            bh.cast("int").alias("h"),
            wtext.alias("text"),
        )

    boxes = F.transform(
        F.array_sort(F.transform("w", keyed_box)),
        lambda s: F.struct(
            s["x"].alias("x"), s["y"].alias("y"), s["w"].alias("w"),
            s["h"].alias("h"), s["text"].alias("text"),
        ),
    )
    return d.select("doc_id", boxes.alias("boxes"))


def q_layout_order(spark, sf_dir):
    """XY-cut reading-order reconstruction (ops/layout.reading_order) over
    the shuffled synthetic text layers of :func:`_layout_boxes`; the oracle
    emits the closed-form (k = word index, block = title/left/right)."""
    from .layout import reading_order

    return reading_order(_layout_boxes(spark, sf_dir))


def q_layout_blocks(spark, sf_dir):
    """Block grouping over the same layers (ops/layout.layout_blocks):
    (block, n_words, reading-order block_text, bbox origin) per leaf."""
    from .layout import layout_blocks

    return layout_blocks(_layout_boxes(spark, sf_dir))


_SQL_LAYOUT_DOCS = r"""
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
"""


def q_layout_pages(spark, sf_dir):
    """Multi-page reading order (ops/layout.reading_order_pages): ≥44-word
    docs get TWO pages of the same shuffled 3-block geometry (page p =
    words 22p+1..22p+22); the document-wide rank must come out as the
    closed form k = 22*page + j, i.e. the per-page XY-cut result plus the
    cross-page word-count offset join."""
    from pyspark.sql import functions as F

    from .layout import reading_order_pages

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 44).alias("w"),
        )
        .filter(F.size("w") >= 44)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("page"),
            F.col("w"),
        )
        .select(
            "doc_id", "page",
            F.slice("w", F.col("page") * 22 + 1, F.lit(22)).alias("w"),
        )
    )

    def geom(j):
        title = j < F.lit(2)
        left = j < F.lit(12)
        return (
            F.when(title, 50 + 200 * j).when(left, F.lit(50)).otherwise(450),
            F.when(title, F.lit(0))
            .when(left, 40 + 20 * (j - 2))
            .otherwise(40 + 20 * (j - 12)),
            F.when(title, F.lit(180)).otherwise(80),
            F.when(title, F.lit(16)).otherwise(12),
        )

    def keyed_box(wtext, j):
        x, y, bw, bh = geom(j)
        return F.struct(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                         F.col("page").cast("string"), F.lit("-"),
                         j.cast("string"))
            ).alias("key"),
            x.cast("int").alias("x"),
            y.cast("int").alias("y"),
            bw.cast("int").alias("w"),
            bh.cast("int").alias("h"),
            wtext.alias("text"),
        )

    boxes = F.transform(
        F.array_sort(F.transform("w", keyed_box)),
        lambda s: F.struct(
            s["x"].alias("x"), s["y"].alias("y"), s["w"].alias("w"),
            s["h"].alias("h"), s["text"].alias("text"),
        ),
    )
    return reading_order_pages(d.select("doc_id", "page", boxes.alias("boxes")))


_SQL_LAYOUT_PAGES = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 44) AS w FROM d WHERE len(w) >= 44),
j AS (SELECT doc_id, p.i AS page, u.i AS k_page,
             w[p.i * 22 + u.i + 1] AS text
      FROM f,
           unnest(generate_series(0, 1)) AS p(i),
           unnest(generate_series(0, 21)) AS u(i))
SELECT doc_id, CAST(page AS INT) AS page,
       CAST(page * 22 + k_page AS INT) AS k,
       CAST(CASE WHEN k_page < 2 THEN 0 WHEN k_page < 12 THEN 1 ELSE 2 END
            AS INT) AS block,
       CAST(CASE WHEN k_page < 2 THEN 50 + 200 * k_page
                 WHEN k_page < 12 THEN 50 ELSE 450 END AS INT) AS x,
       CAST(CASE WHEN k_page < 2 THEN 0
                 WHEN k_page < 12 THEN 40 + 20 * (k_page - 2)
                 ELSE 40 + 20 * (k_page - 12) END AS INT) AS y,
       text
FROM j
"""


_SQL_LAYOUT_ORDER = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 22) AS w FROM d WHERE len(w) >= 22),
j AS (SELECT doc_id, u.i AS k, w[u.i + 1] AS text
      FROM f, unnest(generate_series(0, 21)) AS u(i))
SELECT doc_id, CAST(k AS INT) AS k,
       CAST(CASE WHEN k < 2 THEN 0 WHEN k < 12 THEN 1 ELSE 2 END AS INT)
         AS block,
       CAST(CASE WHEN k < 2 THEN 50 + 200 * k
                 WHEN k < 12 THEN 50 ELSE 450 END AS INT) AS x,
       CAST(CASE WHEN k < 2 THEN 0
                 WHEN k < 12 THEN 40 + 20 * (k - 2)
                 ELSE 40 + 20 * (k - 12) END AS INT) AS y,
       text
FROM j
"""

_SQL_LAYOUT_BLOCKS = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 22) AS w FROM d WHERE len(w) >= 22)
SELECT doc_id, CAST(0 AS INT) AS block, CAST(2 AS INT) AS n_words,
       array_to_string(list_slice(w, 1, 2), ' ') AS block_text,
       CAST(50 AS INT) AS x0, CAST(0 AS INT) AS y0
FROM f
UNION ALL
SELECT doc_id, 1, 10, array_to_string(list_slice(w, 3, 12), ' '), 50, 40
FROM f
UNION ALL
SELECT doc_id, 2, 10, array_to_string(list_slice(w, 13, 22), ' '), 450, 40
FROM f
"""


def q_layout_table(spark, sf_dir):
    """PDF-side table reconstruction (ops/layout.table_cells): each
    ≥20-word doc becomes a shuffled 5-row × 3-column word-box grid whose
    first column holds two-word cells (intra-cell spacing 20 < col_gap 30,
    inter-column pitch 120 ≥ 30, row pitch 20 ≥ row_gap 8), so the
    tab-stop clustering must merge within cells and split between them;
    the oracle emits the closed-form grid."""
    from pyspark.sql import functions as F

    from .layout import table_cells

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 20).alias("w"),
        )
        .filter(F.size("w") >= 20)
    )

    def keyed_box(wtext, j):
        # j = 4r + c4 with c4 in 0..3: c4 0/1 -> two words of cell (r, 0)
        # at x 40/60; c4 2 -> cell (r, 1) at x 160; c4 3 -> (r, 2) at 280
        r = F.floor(j / 4)
        c4 = j % 4
        x = (
            F.when(c4 == F.lit(0), 40)
            .when(c4 == F.lit(1), 60)
            .when(c4 == F.lit(2), 160)
            .otherwise(280)
        )
        return F.struct(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                         j.cast("string"))
            ).alias("key"),
            x.cast("int").alias("x"),
            (r * 20).cast("int").alias("y"),
            F.lit(15).alias("w"),
            F.lit(10).alias("h"),
            wtext.alias("text"),
        )

    boxes = F.transform(
        F.array_sort(F.transform("w", keyed_box)),
        lambda s: F.struct(
            s["x"].alias("x"), s["y"].alias("y"), s["w"].alias("w"),
            s["h"].alias("h"), s["text"].alias("text"),
        ),
    )
    return table_cells(d.select("doc_id", boxes.alias("boxes")))


_SQL_LAYOUT_TABLE = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 20) AS w FROM d WHERE len(w) >= 20),
g AS (SELECT doc_id, r.i AS r, c.i AS c, w FROM f,
      unnest(generate_series(0, 4)) AS r(i),
      unnest(generate_series(0, 2)) AS c(i))
SELECT doc_id, CAST(r AS INT) AS row, CAST(c AS INT) AS col,
       CASE WHEN c = 0 THEN w[4*r + 1] || ' ' || w[4*r + 2]
            WHEN c = 1 THEN w[4*r + 3] ELSE w[4*r + 4] END AS cell_text,
       CAST(CASE WHEN c = 0 THEN 40 WHEN c = 1 THEN 160 ELSE 280 END AS INT)
         AS x0,
       CAST(r * 20 AS INT) AS y0
FROM g
"""


def q_layout_spans(spark, sf_dir):
    """Layout → canonical span bridge (ops/layout.layout_spans): the same
    shuffled 3-block layers as layout_order, emitted as (doc_id, offset,
    kind, text, media_ref) — the engine's flagship span schema, so a PDF
    text layer plugs into everything downstream of the decode leg."""
    from .layout import layout_spans

    return layout_spans(_layout_boxes(spark, sf_dir))


_SQL_LAYOUT_SPANS = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 22) AS w FROM d WHERE len(w) >= 22)
SELECT doc_id, CAST(0 AS INT) AS "offset", 'text' AS kind,
       array_to_string(list_slice(w, 1, 2), ' ') AS text,
       CAST(NULL AS VARCHAR) AS media_ref
FROM f
UNION ALL
SELECT doc_id, 1, 'text', array_to_string(list_slice(w, 3, 12), ' '), NULL
FROM f
UNION ALL
SELECT doc_id, 2, 'text', array_to_string(list_slice(w, 13, 22), ' '), NULL
FROM f
"""


def q_lang_segments(spark, sf_dir):
    """Mixed-language segmentation (ops/textstats.lang_segments): every
    doc gets 8 ordered blocks with known stopword signatures (en en fr fr
    de de, an en/fr tie broken to en by the lexicographic-first rule, and
    an all-zero 'und' block) plus a per-block filler token that is no
    language's stopword; the closed-form answer is 5 runs per doc."""
    from pyspark.sql import functions as F

    from .textstats import lang_segments

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    phrases = [
        "the and of", "the and of", "le et un", "le et un",
        "der und zu", "der und zu", "the le", "zz qq",
    ]
    blocks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"),
    ).select(
        "doc_id", "k",
        F.concat(
            F.element_at(F.array(*[F.lit(p) for p in phrases]), F.col("k") + 1),
            F.lit(" tkn"), F.col("doc_id").cast("string"),
            F.lit("x"), F.col("k").cast("string"),
        ).alias("text"),
    )
    return lang_segments(blocks)


_SQL_LANG_SEGMENTS = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
s(seg, lang, start_k, end_k, n_blocks) AS (
  VALUES (0, 'en', 0, 1, 2), (1, 'fr', 2, 3, 2), (2, 'de', 4, 5, 2),
         (3, 'en', 6, 6, 1), (4, 'und', 7, 7, 1))
SELECT doc_id, CAST(seg AS INT) AS seg, lang,
       CAST(start_k AS INT) AS start_k, CAST(end_k AS INT) AS end_k,
       CAST(n_blocks AS INT) AS n_blocks
FROM d CROSS JOIN s
"""


def q_figure_captions(spark, sf_dir):
    """Layout-side figure-caption pairing (ops/layout.figure_captions):
    each ≥4-word doc gets a page with a figure (NULL-text box), a 2-word
    caption line below it, a second-line decoy, a no-x-overlap decoy, and
    a captionless second figure; the geometric join must pick exactly the
    caption line.  Closed-form oracle."""
    from pyspark.sql import functions as F

    from .layout import figure_captions

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 4).alias("w"),
        )
        .filter(F.size("w") >= 4)
    )

    def box(x, y, w, h, text):
        t = text if text is not None else F.lit(None).cast("string")
        return F.struct(
            F.lit(x).alias("x"), F.lit(y).alias("y"),
            F.lit(w).alias("w"), F.lit(h).alias("h"), t.alias("text"),
        )

    boxes = F.array(
        box(200, 0, 200, 60, None),                      # figure 0
        box(210, 70, 90, 10, F.element_at("w", 1)),      # caption word 1
        box(310, 70, 60, 10, F.element_at("w", 2)),      # caption word 2
        box(210, 90, 90, 10, F.element_at("w", 3)),      # 2nd line decoy
        box(0, 70, 90, 10, F.element_at("w", 4)),        # no x-overlap
        box(500, 0, 80, 60, None),                       # captionless fig
    )
    return figure_captions(d.select("doc_id", boxes.alias("boxes")))


_SQL_FIGURE_CAPTIONS = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 4) AS w FROM d WHERE len(w) >= 4)
SELECT doc_id, CAST(0 AS INT) AS fig_i, CAST(200 AS INT) AS fx,
       CAST(0 AS INT) AS fy, w[1] || ' ' || w[2] AS caption
FROM f
UNION ALL
SELECT doc_id, 5, 500, 0, NULL FROM f
"""


def q_heading_outline(spark, sf_dir):
    """TOC reconstruction (ops/layout.heading_outline): each ≥8-word doc
    gets a 5-line page — h1 (2 words), h2, a body line that must stay
    out, another h2, a closing h1 — in a shuffled array; outline is the
    closed form (1, 1.1, 1.2, 2)."""
    from pyspark.sql import functions as F

    from .layout import heading_outline

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 8).alias("w"),
        )
        .filter(F.size("w") >= 8)
    )

    def box(x, y, h, widx):
        return F.struct(
            F.lit(x).alias("x"), F.lit(y).alias("y"),
            F.lit(80).alias("w"), F.lit(h).alias("h"),
            F.element_at("w", widx).alias("text"),
        )

    boxes = F.array(
        box(0, 160, 24, 8),                 # closing h1 (shuffled order)
        box(0, 0, 24, 1), box(100, 0, 24, 2),   # opening h1, two words
        box(0, 40, 16, 3), box(100, 40, 16, 4),  # h2
        box(0, 80, 12, 5),                  # body line — filtered out
        box(0, 120, 16, 6), box(100, 120, 16, 7),  # h2
    )
    return heading_outline(d.select("doc_id", boxes.alias("boxes")))


_SQL_HEADING_OUTLINE = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 8) AS w FROM d WHERE len(w) >= 8)
SELECT doc_id, CAST(0 AS INT) AS pos, CAST(1 AS INT) AS level,
       '1' AS section, w[1] || ' ' || w[2] AS heading
FROM f
UNION ALL SELECT doc_id, 1, 2, '1.1', w[3] || ' ' || w[4] FROM f
UNION ALL SELECT doc_id, 2, 2, '1.2', w[6] || ' ' || w[7] FROM f
UNION ALL SELECT doc_id, 3, 1, '2', w[8] FROM f
"""


def q_sentence_split(spark, sf_dir):
    """Rule-based sentence segmentation (ops/textstats.sentence_split)
    over the REAL document text — the oracle replays the identical
    protect/boundary/split chain (lookaround-free, byte-parity-tested in
    tests/test_unwrap.py)."""
    from .textstats import sentence_split

    return sentence_split(_docs(spark, sf_dir))


def _sentence_split_sql() -> str:
    from chug_spark.ops.textstats import sentence_split_sql

    arr = sentence_split_sql("text")
    return f"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {arr} AS arr
           FROM documents)
SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_no, arr[u.i] AS sentence,
       CAST(len(string_split(arr[u.i], ' ')) AS INT) AS n_words
FROM d, unnest(generate_series(1, len(arr))) AS u(i)
"""


def q_page_template(spark, sf_dir):
    """Running header/footer detection (ops/layout.flag_running_headers):
    each ≥22-word doc becomes 4 pages of (repeated header = words 1-2,
    per-page 5-word body, digit-varying 'page N' footer); the footer must
    flag via digit folding, the header via plain recurrence, and bodies
    are judged by the replayed aggregation (a repetitive doc whose body
    slices coincide IS chrome by the rule — the oracle replays, not
    assumes)."""
    from pyspark.sql import functions as F

    from .layout import flag_running_headers

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(words, 1, 22).alias("w"),
        )
        .filter(F.size("w") >= 22)
        .select(
            "doc_id", "w",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("page"),
        )
    )
    p = F.col("page")
    blocks = F.array(
        F.struct(
            F.lit(0).alias("block"),
            F.array_join(F.slice("w", 1, 2), " ").alias("block_text"),
        ),
        F.struct(
            F.lit(1).alias("block"),
            F.array_join(F.slice("w", p * 5 + 3, F.lit(5)), " ")
            .alias("block_text"),
        ),
        F.struct(
            F.lit(2).alias("block"),
            F.concat(F.lit("page "), (p + 1).cast("string"))
            .alias("block_text"),
        ),
    )
    rows = d.select(
        "doc_id", "page", F.explode(blocks).alias("b")
    ).select(
        "doc_id", "page",
        F.col("b.block").alias("block"),
        F.col("b.block_text").alias("block_text"),
    )
    return flag_running_headers(rows).select(
        "doc_id", "page", "block", "block_text", "is_template"
    )


_SQL_PAGE_TEMPLATE = rf"""
WITH d AS ({_SQL_LAYOUT_DOCS}),
f AS (SELECT doc_id, list_slice(w, 1, 22) AS w FROM d WHERE len(w) >= 22),
pg AS (SELECT doc_id, w, p.i AS page FROM f,
       unnest(generate_series(0, 3)) AS p(i)),
blk AS (
  SELECT doc_id, page, 0 AS block,
         array_to_string(list_slice(w, 1, 2), ' ') AS block_text FROM pg
  UNION ALL
  SELECT doc_id, page, 1,
         array_to_string(list_slice(w, page*5 + 3, page*5 + 7), ' ') FROM pg
  UNION ALL
  SELECT doc_id, page, 2, 'page ' || CAST(page + 1 AS VARCHAR) FROM pg
),
norm AS (SELECT *, regexp_replace(lower(trim(block_text)), '[0-9]+', '#', 'g')
                AS k FROM blk),
pages AS (SELECT doc_id, count(DISTINCT page) AS n_pages FROM norm GROUP BY 1),
dfs AS (SELECT doc_id, k, count(DISTINCT page) AS df FROM norm GROUP BY 1, 2)
SELECT n.doc_id, CAST(n.page AS INT) AS page, CAST(n.block AS INT) AS block,
       n.block_text,
       (p.n_pages >= 3 AND dfs.df * 10000 >= 6000 * p.n_pages)
         AS is_template
FROM norm n
JOIN dfs ON n.doc_id = dfs.doc_id AND n.k = dfs.k
JOIN pages p ON n.doc_id = p.doc_id
"""


def q_line_unwrap(spark, sf_dir):
    """Hard-wrap repair (ops/textnorm.line_unwrap): each ≥20-word doc is
    re-wrapped PDF-text-layer style — a line break every 5th word, a
    paragraph break every 15th, and every 10th word ≥6 chars split by an
    end-of-line hyphen (continuation case decides soft-vs-hard at runtime,
    from the word's own 4th character).  The oracle replays the synthesis
    and the regex chain verbatim."""
    from pyspark.sql import functions as F

    from .textnorm import line_unwrap

    words = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            words.alias("w"),
        )
        .filter(F.size("w") >= 20)
    )
    n = F.size("w")

    def tok(wd, i):
        hyph = F.when(
            (i % 10 == F.lit(3)) & (F.length(wd) >= 6),
            F.concat(
                wd.substr(F.lit(1), F.lit(3)), F.lit("-\n"),
                wd.substr(F.lit(4), F.length(wd)),
            ),
        ).otherwise(wd)
        sep = (
            F.when(i == n - 1, F.lit(""))
            .when(i % 15 == F.lit(14), F.lit("\n\n"))
            .when(i % 5 == F.lit(4), F.lit("\n"))
            .otherwise(F.lit(" "))
        )
        return F.concat(hyph, sep)

    raw = F.array_join(F.transform("w", tok), "")
    return line_unwrap(d.select("doc_id", raw.alias("text")))


_SQL_LINE_UNWRAP = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
f AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) >= 20),
j AS (SELECT doc_id, n, u.i AS i, w[u.i + 1] AS word
      FROM f, unnest(generate_series(0, len(w) - 1)) AS u(i)),
tok AS (
  SELECT doc_id, i,
    (CASE WHEN i % 10 = 3 AND len(word) >= 6
          THEN substr(word, 1, 3) || '-' || chr(10) || substr(word, 4)
          ELSE word END)
    || (CASE WHEN i = n - 1 THEN ''
             WHEN i % 15 = 14 THEN chr(10) || chr(10)
             WHEN i % 5 = 4 THEN chr(10)
             ELSE ' ' END) AS t
  FROM j
),
doc AS (SELECT doc_id, string_agg(t, '' ORDER BY i) AS raw FROM tok GROUP BY doc_id),
s1 AS (SELECT doc_id, raw,
              regexp_replace(raw, '([a-z])-\n([a-z])', '\1\2', 'g') AS a
       FROM doc),
s2 AS (SELECT doc_id, raw, a,
              regexp_replace(a, '([A-Za-z0-9])-\n([A-Z0-9])', '\1-\2', 'g') AS b
       FROM s1),
s3 AS (SELECT doc_id, raw, a, b,
              replace(regexp_replace(regexp_replace(b, '\n{2,}', chr(1), 'g'),
                                     '\n', ' ', 'g'),
                      chr(1), chr(10) || chr(10)) AS clean
       FROM s2)
SELECT doc_id, clean AS clean_text,
       CAST((length(raw) - length(a)) / 2 AS INT) AS n_soft,
       CAST(length(a) - length(b) AS INT) AS n_hard,
       CAST(len(string_split(clean, chr(10) || chr(10))) AS INT) AS n_paras
FROM s3
"""


def q_table_extract(spark, sf_dir):
    """HTML table extraction (ops/tables.extract_tables): a two-table page
    (header row + data rows, then a 1x1 table), a table-free page, and a
    ragged table with nested markup inside a cell.  Oracle enumerates the
    expected (table_no, row_no, col_no, is_header, cell) grid."""
    from pyspark.sql import functions as F

    from .tables import extract_tables

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    m3 = F.pmod(F.col("doc_id"), 3)
    html = (
        F.when(m3 == 0, F.concat(
            F.lit("<h1>t</h1><table><tr><th>Name</th><th>Qty</th></tr>"
                  "<tr><td>a"), i, F.lit("</td><td>"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("</td></tr><tr><td>b"), i, F.lit("</td><td>"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("</td></tr></table><table><tr><td>solo</td></tr></table>")))
        .when(m3 == 1, F.lit("<p>no tables here</p>"))
        .otherwise(F.concat(
            F.lit("<table><tr><td>x"), i, F.lit("</td><td>y"), i,
            F.lit("</td></tr><tr><td><b>bold "), i,
            F.lit("</b></td></tr></table>")))
    )
    return extract_tables(d.select("doc_id", html.alias("html")))


_SQL_TABLE_EXTRACT = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 3 AS m,
                  CAST(doc_id AS VARCHAR) AS i,
                  CAST(doc_id % 7 AS VARCHAR) AS q7,
                  CAST(doc_id % 5 AS VARCHAR) AS q5
           FROM documents)
SELECT doc_id, CAST(t AS INT) AS table_no, CAST(r AS INT) AS row_no,
       CAST(c AS INT) AS col_no, h AS is_header, cell
FROM (
  SELECT doc_id, 0 AS t, 0 AS r, 0 AS c, true AS h, 'Name' AS cell FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 0, 1, true, 'Qty' FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 1, 0, false, 'a' || i FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 1, 1, false, q7 FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 2, 0, false, 'b' || i FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 2, 1, false, q5 FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 1, 0, 0, false, 'solo' FROM d WHERE m = 0
  UNION ALL SELECT doc_id, 0, 0, 0, false, 'x' || i FROM d WHERE m = 2
  UNION ALL SELECT doc_id, 0, 0, 1, false, 'y' || i FROM d WHERE m = 2
  UNION ALL SELECT doc_id, 0, 1, 0, false, 'bold ' || i FROM d WHERE m = 2
)
"""


def q_frontier_rank(spark, sf_dir):
    """Crawl-frontier composition: per-host sitemap candidates (loc,
    lastmod, priority) → RFC 9309 robots gate (ops/robots.robots_filter)
    → top-3 per host by priority desc, lastmod desc, loc.  The per-host
    window is bounded by the sitemap protocol's own 50k-URL-per-file cap,
    so the rank never sees crawl-scale partitions; /private paths must
    fall to the robots gate before ranking."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .robots import robots_filter

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    host = F.concat(F.lit("site"), (F.col("doc_id") % 10).cast("string"),
                    F.lit(".com"))
    path = F.when(
        F.pmod(F.col("doc_id"), 4) == 0, F.concat(F.lit("/private/"), i)
    ).otherwise(F.concat(F.lit("/post/"), i))
    lastmod = F.concat(
        (F.col("doc_id") % 20 + 2000).cast("string"), F.lit("-"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
    )
    cands = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, path).alias("url"),
        lastmod.alias("lastmod"),
        (F.col("doc_id") % 10).cast("int").alias("prio"),
    )
    robots = d.select(host.alias("host")).distinct().select(
        "host", F.lit("User-agent: *\nDisallow: /private\n").alias("robots_txt")
    )
    verdict = robots_filter(cands, robots, agent="chugbot").filter("allow")
    ranked = (
        verdict.join(cands.select("doc_id", "lastmod", "prio"), "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("host").orderBy(
                    F.desc("prio"), F.desc("lastmod"), F.asc("url")
                )
            ),
        )
        .filter(F.col("rnk") <= 3)
    )
    return ranked.select("host", "rnk", "url", "prio", "lastmod")


_SQL_FRONTIER_RANK = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'site' || CAST(doc_id % 10 AS VARCHAR) || '.com' AS host,
         CASE WHEN doc_id % 4 = 0 THEN '/private/' || CAST(doc_id AS VARCHAR)
              ELSE '/post/' || CAST(doc_id AS VARCHAR) END AS path,
         CAST(doc_id % 20 + 2000 AS VARCHAR) || '-' ||
           lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
           lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
         CAST(doc_id % 10 AS INT) AS prio
  FROM documents
),
allowed AS (SELECT * FROM d WHERE doc_id % 4 <> 0),
r AS (
  SELECT host,
         row_number() OVER (PARTITION BY host
                            ORDER BY prio DESC, lastmod DESC,
                                     'https://' || host || path) AS rnk,
         'https://' || host || path AS url, prio, lastmod
  FROM allowed
)
SELECT host, CAST(rnk AS INT) AS rnk, url, prio, lastmod
FROM r WHERE rnk <= 3
"""


def q_canonical_dedup(spark, sf_dir):
    """Composition: rel=canonical extraction (ops/webmeta) feeding URL-level
    dedup (functions.canonical_url) — every third page declares a canonical
    shared by its doc_id%40 cohort (case-mangled, so normalization must do
    real work); the rest dedup by their fetched URL (tracking param
    stripped).  The declared canonical outranks the fetched URL — the
    standard search-engine duplicate-cluster rule."""
    from pyspark.sql import functions as F

    from ..functions import canonical_url
    from .webmeta import extract_opengraph

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    s = (F.col("doc_id") % 5).cast("string")
    c = (F.col("doc_id") % 40).cast("string")
    fetched = F.concat(
        F.lit("https://Site"), s, F.lit(".COM/page/"), i,
        F.lit("?utm_source=feed"),
    )
    html = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit('<link rel="canonical" href="HTTPS://site'), s,
                 F.lit(".com/canon/"), c, F.lit('">')),
    ).otherwise(F.lit("<p>no canonical</p>"))
    pages = d.select("doc_id", fetched.alias("url"), html.alias("html"))
    eff = F.coalesce(F.col("canonical_url"), F.col("url"))
    return (
        extract_opengraph(pages)
        .select("doc_id", canonical_url(eff).alias("canon"))
        .groupBy("canon")
        .agg(F.count(F.lit(1)).cast("int").alias("n_pages"),
             F.min("doc_id").alias("first_doc"))
    )


_SQL_CANONICAL_DEDUP = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(doc_id % 5 AS VARCHAR) AS s,
                  CAST(doc_id % 40 AS VARCHAR) AS c,
                  CAST(doc_id AS VARCHAR) AS i,
                  doc_id % 3 = 0 AS has_canon
           FROM documents),
e AS (SELECT doc_id,
             CASE WHEN has_canon THEN 'https://site' || s || '.com/canon/' || c
                  ELSE 'https://site' || s || '.com/page/' || i END AS canon
      FROM d)
SELECT canon, CAST(count(*) AS INT) AS n_pages, min(doc_id) AS first_doc
FROM e GROUP BY canon
"""


def q_og_extract(spark, sf_dir):
    """OpenGraph + canonical extraction (ops/webmeta.extract_opengraph)
    over 4 synthesized page classes: full OG set + canonical, og:title
    only, canonical only, bare page.  Oracle states the ground truth."""
    from pyspark.sql import functions as F

    from .webmeta import extract_opengraph

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    m4 = F.pmod(F.col("doc_id"), 4)
    html = (
        F.when(m4 == 0, F.concat(
            F.lit('<head><meta property="og:title" content="Title '), i,
            F.lit('"><meta property="og:description" content="About '), i,
            F.lit('"><meta property="og:image" content="https://img/'), i,
            F.lit('.jpg"><meta property="og:type" content="article">'
                  '<link rel="canonical" href="https://ex.com/c/'), i,
            F.lit('"></head>')))
        .when(m4 == 1, F.concat(
            F.lit('<meta property="og:title" content="Only '), i, F.lit('">')))
        .when(m4 == 2, F.concat(
            F.lit('<link rel="canonical" href="https://ex.com/c/'), i,
            F.lit('">')))
        .otherwise(F.lit("<html><body>bare</body></html>"))
    )
    return extract_opengraph(d.select("doc_id", html.alias("html"))).select(
        "doc_id", "og_title", "og_description", "og_image", "og_type",
        "canonical_url",
    )


_SQL_OG_EXTRACT = """
SELECT doc_id,
       CASE WHEN m = 0 THEN 'Title ' || i
            WHEN m = 1 THEN 'Only ' || i END AS og_title,
       CASE WHEN m = 0 THEN 'About ' || i END AS og_description,
       CASE WHEN m = 0 THEN 'https://img/' || i || '.jpg' END AS og_image,
       CASE WHEN m = 0 THEN 'article' END AS og_type,
       CASE WHEN m IN (0, 2) THEN 'https://ex.com/c/' || i END AS canonical_url
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 4 AS m,
             CAST(doc_id AS VARCHAR) AS i
      FROM documents)
"""


def q_soft404(spark, sf_dir):
    """Soft-404 detection (ops/webmeta.soft404_detect): normal page, error
    title, short error body, and a LONG article that merely mentions
    '404 error' (body flag fires, verdict must stay false — the two-signal
    rule).  Oracle recomputes n_words from the reconstructed plain text."""
    from pyspark.sql import functions as F

    from .webmeta import soft404_detect

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    m4 = F.pmod(F.col("doc_id"), 4)
    filler = " ".join(f"w{k}" for k in range(36))
    long_body = (
        "this long guide mentions the 404 error phrase once but keeps "
        "going with plenty of genuine content " + filler
    )
    # m0 title is a CONSTANT: 'Doc <id>' would contain the substring 404
    # for ~1/1000 of ids and flip title_404 (found by the sf0.001 sweep)
    title = (
        F.when(m4 == 0, F.lit("Welcome"))
        .when(m4 == 1, F.lit("404 Not Found"))
        .when(m4 == 2, F.lit("Oops"))
        .otherwise(F.lit("Guide"))
    )
    body = (
        F.when(m4 == 0, F.concat(F.lit("welcome to page "), i, F.lit(" "),
                                 F.lit(filler)))
        .when(m4 == 1, F.lit("gone"))
        .when(m4 == 2, F.lit("The page you requested was not found."))
        .otherwise(F.lit(long_body))
    )
    html = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit("</title></head><body>"), body, F.lit("</body></html>"),
    )
    return soft404_detect(d.select("doc_id", html.alias("html"))).select(
        "doc_id", "title_404", "body_404", "n_words", "soft404"
    )


def _soft404_sql() -> str:
    filler = " ".join(f"w{k}" for k in range(36))
    long_body = (
        "this long guide mentions the 404 error phrase once but keeps "
        "going with plenty of genuine content " + filler
    )
    return f"""
SELECT doc_id,
       m = 1 AS title_404,
       m IN (2, 3) AS body_404,
       CAST(len(string_split(txt, ' ')) AS INT) AS n_words,
       m IN (1, 2) AS soft404
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 4 AS m,
             CASE doc_id % 4
               WHEN 0 THEN 'Welcome welcome to page '
                 || CAST(doc_id AS VARCHAR) || ' {filler}'
               WHEN 1 THEN '404 Not Found gone'
               WHEN 2 THEN 'Oops The page you requested was not found.'
               ELSE 'Guide {long_body}'
             END AS txt
      FROM documents)
"""


def q_sitemap_parse(spark, sf_dir):
    """Sitemap parsing (ops/webmeta.parse_sitemap): urlset leaf with a
    fully- and a minimally-specified entry, sitemapindex indirection, and
    a non-sitemap page (one NULL-kind row — the outer explode keeps the
    doc visible for accounting)."""
    from pyspark.sql import functions as F

    from .webmeta import parse_sitemap

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id").cast("string")
    m3 = F.pmod(F.col("doc_id"), 3)
    xml = (
        F.when(m3 == 0, F.concat(
            F.lit('<?xml version="1.0"?><urlset><url><loc>https://ex.com/p/'),
            i, F.lit("</loc><lastmod>2021-02-03</lastmod>"
                     "<priority>0.8</priority></url>"
                     "<url><loc>https://ex.com/q/"), i,
            F.lit("</loc></url></urlset>")))
        .when(m3 == 1, F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://ex.com/s/"), i,
            F.lit(".xml</loc><lastmod>2022-01-01</lastmod>"
                  "</sitemap></sitemapindex>")))
        .otherwise(F.lit("<html>not a sitemap</html>"))
    )
    return parse_sitemap(d.select("doc_id", xml.alias("xml")))


_SQL_SITEMAP_PARSE = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 3 AS m,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents)
SELECT doc_id, CAST(0 AS INT) AS entry_no, 'url' AS kind,
       'https://ex.com/p/' || i AS loc,
       '2021-02-03' AS lastmod, '0.8' AS priority
FROM d WHERE m = 0
UNION ALL
SELECT doc_id, CAST(1 AS INT), 'url', 'https://ex.com/q/' || i, NULL, NULL
FROM d WHERE m = 0
UNION ALL
SELECT doc_id, CAST(0 AS INT), 'sitemap', 'https://ex.com/s/' || i || '.xml',
       '2022-01-01', NULL
FROM d WHERE m = 1
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL
FROM d WHERE m = 2
"""


def q_pub_date(spark, sf_dir):
    """Publish-date mining (ops/html.extract_publish_date): 5 synthesized
    page classes per doc_id%5 — meta article:published_time (with a time
    tail the regex must not capture), <time datetime>, URL /YYYY/MM/DD/
    path only, an INVALID meta month that must fall through to the time
    tag, and no date at all.  The oracle states the ground-truth tier."""
    from pyspark.sql import functions as F

    from .html import extract_publish_date

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    i = F.col("doc_id")
    iso = F.concat(
        (i % 20 + 2000).cast("string"), F.lit("-"),
        F.lpad((i % 12 + 1).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((i % 28 + 1).cast("string"), 2, "0"),
    )
    m5 = F.pmod(i, 5)
    html = (
        F.when(m5 == 0, F.concat(
            F.lit('<html><head><meta property="article:published_time" '
                  'content="'), iso,
            F.lit('T08:00:00Z"></head><body>x</body></html>')))
        .when(m5 == 1, F.concat(
            F.lit('<html><body><time datetime="'), iso,
            F.lit('">then</time></body></html>')))
        .when(m5 == 2, F.lit("<html><body>plain page</body></html>"))
        .when(m5 == 3, F.concat(
            F.lit('<meta name="date" content="2021-13-01"><time datetime="'),
            iso, F.lit('">t</time>')))
        .otherwise(F.lit("<html><body>no date here</body></html>"))
    )
    url = F.when(m5 == 2, F.concat(
        F.lit("https://ex.com/"),
        (i % 20 + 2000).cast("string"), F.lit("/"),
        F.lpad((i % 12 + 1).cast("string"), 2, "0"), F.lit("/"),
        F.lpad((i % 28 + 1).cast("string"), 2, "0"), F.lit("/post"),
    )).otherwise(F.concat(F.lit("https://ex.com/post/"), i.cast("string")))
    pages = d.select("doc_id", html.alias("html"), url.alias("url"))
    return extract_publish_date(pages).select("doc_id", "pub_date", "pub_src")


_SQL_PUB_DATE = """
SELECT doc_id,
       CASE WHEN m IN (0, 1, 2, 3) THEN iso END AS pub_date,
       CASE WHEN m = 0 THEN 'meta'
            WHEN m IN (1, 3) THEN 'time'
            WHEN m = 2 THEN 'url' END AS pub_src
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 5 AS m,
             CAST(doc_id % 20 + 2000 AS VARCHAR) || '-' ||
             lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
             lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS iso
      FROM documents)
"""


def q_html_extract(spark, sf_dir):
    """HTML main-content extraction end-to-end: deterministically wrap each
    document's text into a full HTML page (title, style, nav, paragraphs of
    12 words, a link-only subscribe block, footer), then strip boilerplate
    subtrees, segment into blocks, score by length + link density, and keep
    the main content.  The DuckDB oracle reproduces BOTH the page synthesis
    and the extraction, so every regex/heuristic is value-checked."""
    from pyspark.sql import functions as F

    from .html import html_main_content

    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(words) / 12).cast("int")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda p: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, p * 12 + 1, 12), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><style>p{color:red}</style></head><body>'
              '<nav><a href="/">home</a> <a href="/a">about</a></nav>'),
        paras,
        F.lit('<p><a href="/sub">click here to subscribe now</a></p>'
              "<footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    return html_main_content(docs.select("doc_id", html.alias("html")))


def _html_extract_sql() -> str:
    from .html import BOILERPLATE_TAGS, _BLOCK_TAG_RE

    body = "html"
    for t in BOILERPLATE_TAGS:
        body = (
            f"regexp_replace({body}, '(?is)<{t}[^>]*>.*?</{t}>', ' ', 'g')"
        )
    unesc = "regexp_replace(x, '<[^>]*>', ' ', 'g')"
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        unesc = f"replace({unesc}, '{ent}', '{ch}')"
    clean_text = f"trim(regexp_replace({unesc}, '\\s+', ' ', 'g'))"
    link_len = (
        "coalesce(list_sum(list_transform("
        "regexp_extract_all(x, '(?is)<a[^>]*>(.*?)</a>', 1), "
        "a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), "
        "'\\s+', ' ', 'g'))))), 0)"
    )
    return f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{color:red}}</style></head><body>'
         || '<nav><a href="/">home</a> <a href="/a">about</a></nav>'
         || array_to_string(list_transform(
              generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
              p -> '<p>' || array_to_string(list_slice(words, p*12 + 1, p*12 + 12), ' ') || '</p>'),
            '')
         || '<p><a href="/sub">click here to subscribe now</a></p>'
         || '<footer>copyright ' || source || '</footer></body></html>' AS html
  FROM w
),
gn AS (
  -- NULL text/source makes the whole synthesis concat NULL; the engine's
  -- Column chain then yields ('', '', 0, 0) — identical to extracting ''
  SELECT doc_id, coalesce(html, '') AS html FROM g
),
s AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
                             '\\s+', ' ', 'g')) AS title,
         {body} AS body
  FROM gn
),
sc AS (
  SELECT doc_id, title,
         list_transform(
           string_split_regex(body, '{_BLOCK_TAG_RE}'),
           x -> struct_pack(text := {clean_text}, link_len := {link_len})) AS scored
  FROM s
),
k AS (
  SELECT doc_id, title,
         list_filter(scored, s -> length(s.text) >= 20
                     AND s.link_len <= greatest(length(s.text), 1) * 0.5) AS kept,
         len(list_filter(scored, s -> length(s.text) > 0)) AS n_total
  FROM sc
)
SELECT doc_id, coalesce(title, '') AS title,
       coalesce(array_to_string(list_transform(kept, s -> s.text), chr(10)), '')
         AS main_text,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(n_total - len(kept) AS INT) AS n_dropped
FROM k
"""


def q_html_spans(spark, sf_dir):
    """HTML -> interleaved (kind, text, media_ref, offset) spans: the HTML
    leg feeding the engine's span model.  Page synthesis embeds media —
    a nav logo (must be stripped with its subtree), a figure image after
    every 3rd paragraph, a single-quoted hero image — so the oracle
    value-checks boilerplate-aware media extraction AND document-order
    interleaving, not just text gating."""
    from pyspark.sql import functions as F

    from .html import html_to_spans

    # the sf parquet is a single row group → a map-only chain would run on
    # ONE core; distribute the synthesis+extraction (2x at sf0.1).  This is
    # fixture plumbing — html_to_spans itself stays zero-shuffle for
    # well-partitioned production tables.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    docs = _docs(spark, sf_dir).repartition(n_parts, "doc_id")
    words = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(words) / 12).cast("int")
    did = F.col("doc_id").cast("string")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda p: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, p * 12 + 1, 12), " "),
                F.lit("</p>"),
                F.when(
                    p % 3 == F.lit(2),
                    F.concat(
                        F.lit('<img alt="fig" src="img/'), did, F.lit("_"),
                        p.cast("string"), F.lit('.jpg">'),
                    ),
                ).otherwise(F.lit("")),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><style>p{color:red}</style></head><body>'
              '<nav><img src="/logo.png"> <a href="/">home</a>'
              ' <a href="/a">about</a></nav>'),
        paras,
        F.lit("<figure><img class='hero' src='media/"), did,
        F.lit(".png'></figure>"),
        F.lit('<p><a href="/sub">click here to subscribe now</a></p>'
              "<footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    return html_to_spans(docs.select("doc_id", html.alias("html")))


def _html_spans_sql() -> str:
    from .html import BOILERPLATE_TAGS, _BLOCK_TAG_RE, _IMG_TAG_RE

    body = "html"
    for t in BOILERPLATE_TAGS:
        body = (
            f"regexp_replace({body}, '(?is)<{t}[^>]*>.*?</{t}>', ' ', 'g')"
        )
    img_re = _IMG_TAG_RE.replace("'", "''")
    body = (
        f"regexp_replace({body}, '{img_re}',"
        " chr(30) || 'IMG' || chr(31) || '\\1' || chr(30), 'g')"
    )
    body = f"regexp_replace({body}, '{_BLOCK_TAG_RE}', chr(30), 'g')"
    unesc = "regexp_replace(x, '<[^>]*>', ' ', 'g')"
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        unesc = f"replace({unesc}, '{ent}', '{ch}')"
    clean = f"trim(regexp_replace({unesc}, '\\s+', ' ', 'g'))"
    link_len = (
        "coalesce(list_sum(list_transform("
        "regexp_extract_all(x, '(?is)<a[^>]*>(.*?)</a>', 1), "
        "a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), "
        "'\\s+', ' ', 'g'))))), 0)"
    )
    is_img = "starts_with(x, 'IMG' || chr(31))"
    return f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{color:red}}</style></head><body>'
         || '<nav><img src="/logo.png"> <a href="/">home</a>'
         || ' <a href="/a">about</a></nav>'
         || array_to_string(list_transform(
              generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
              p -> '<p>' || array_to_string(list_slice(words, p*12 + 1, p*12 + 12), ' ') || '</p>'
                   || CASE WHEN p % 3 = 2
                           THEN '<img alt="fig" src="img/' || CAST(doc_id AS VARCHAR)
                                || '_' || CAST(p AS VARCHAR) || '.jpg">'
                           ELSE '' END),
            '')
         || '<figure><img class=''hero'' src=''media/' || CAST(doc_id AS VARCHAR) || '.png''></figure>'
         || '<p><a href="/sub">click here to subscribe now</a></p>'
         || '<footer>copyright ' || source || '</footer></body></html>' AS html
  FROM w
),
p AS (
  SELECT doc_id, string_split({body}, chr(30)) AS pieces FROM g
),
s AS (
  SELECT doc_id,
         list_filter(
           list_transform(pieces, x -> struct_pack(
             kind := CASE WHEN {is_img} THEN 'image' ELSE 'text' END,
             text := CASE WHEN {is_img} THEN NULL ELSE {clean} END,
             media_ref := CASE WHEN {is_img} THEN substring(x, 5) END,
             keep := {is_img} OR (length({clean}) >= 20
                     AND {link_len} <= greatest(length({clean}), 1) * 0.5))),
           t -> t.keep) AS spans
  FROM p
)
SELECT doc_id, CAST(u.i - 1 AS INT) AS "offset",
       spans[u.i].kind AS kind, spans[u.i].text AS text,
       spans[u.i].media_ref AS media_ref
FROM s, unnest(generate_series(1, len(spans))) AS u(i)
"""


def q_web_pipeline(spark, sf_dir):
    """End-to-end web-corpus curation composed from this round's HTML leg:
    URL/domain gate (url_filter) → main-content extraction
    (html_main_content) → word-count quality gate, one value-checked
    funnel.  The DuckDB oracle nests the url_filter and html_extract
    oracles as CTEs, so the COMPOSITION is hash-checked, not just the
    stages."""
    from pyspark.sql import functions as F

    from .html import html_main_content
    from .urlfilter import url_filter

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")

    # URL synthesis — identical to q_url_filter
    sub = F.element_at(
        F.array(F.lit("www."), F.lit("cdn."), F.lit("")),
        (F.pmod(did, 3) + 1).cast("int"),
    )
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (F.pmod(did, 4) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), sub, F.lower(F.col("source")), F.lit(".example."), tld,
        F.lit("/p/"), did.cast("string"),
        F.when(did % 11 == 5, F.lit("/casino-bonus")).otherwise(F.lit("/article")),
    )
    block = (
        d.filter(did % 9 == 4)
        .select(
            F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias("domain")
        )
        .distinct()
    )
    uf = url_filter(
        d.select("doc_id", url.alias("url")), block, keywords=["casino", "xxx"]
    ).filter(F.col("keep")).select("doc_id", "host")

    # page synthesis — identical to q_html_extract
    words = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(words) / 12).cast("int")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda p: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, p * 12 + 1, 12), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), did.cast("string"),
        F.lit('</title><style>p{color:red}</style></head><body>'
              '<nav><a href="/">home</a> <a href="/a">about</a></nav>'),
        paras,
        F.lit('<p><a href="/sub">click here to subscribe now</a></p>'
              "<footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    mc = html_main_content(d.select("doc_id", html.alias("html")))
    main_words = F.when(F.col("main_text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("main_text"), " "))
    )
    return mc.join(uf, "doc_id").select(
        "doc_id",
        "host",
        "title",
        "n_kept",
        main_words.cast("int").alias("main_words"),
        (main_words >= 40).alias("keep"),
    )


def _web_pipeline_sql() -> str:
    return f"""
WITH he AS ({_html_extract_sql()}),
uf AS ({_SQL_URL_FILTER})
SELECT he.doc_id, uf.host, he.title, he.n_kept,
       CAST(CASE WHEN he.main_text = '' THEN 0
                 ELSE len(string_split(he.main_text, ' ')) END AS INT) AS main_words,
       (CASE WHEN he.main_text = '' THEN 0
             ELSE len(string_split(he.main_text, ' ')) END) >= 40 AS keep
FROM he JOIN uf ON he.doc_id = uf.doc_id
WHERE uf.keep
"""


def q_dom_extract(spark, sf_dir):
    """DOM-heuristics leg: readability-style container scoring over a real
    parse tree (stdlib html.parser in one mapInPandas).  Page synthesis
    nests the article between a link-list sidebar and a comments block so
    the scorer must out-rank chrome by text/comma density, not position.

    Oracle-checked (r5): the tree parse itself isn't SQL, but on this
    synthesized corpus every doc has a >=25-char paragraph (verified), so
    article#main always wins and title/best_path/score/n_blocks/main_text
    are all closed-form over the paragraph slices — the DuckDB oracle
    replays the block scoring (pts = 1 + commas + min(len//100, 3) donated
    by each qualifying <p>) and the outer-block text join.  The md5 pin in
    tests/test_hash_pins.py and the pure-Python parity test in
    tests/test_dom.py stay as the general-HTML gates."""
    from pyspark.sql import functions as F

    from .dom import dom_extract

    # fixture plumbing, same treatment as q_html_spans: the sf parquet is a
    # single row group, so fan out BEFORE the html synthesis projection —
    # repartitioning after it would leave the string construction (and the
    # parse, without the exchange) serialized on one core
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    docs = _docs(spark, sf_dir).repartition(n_parts, "doc_id")
    words = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(words) / 12).cast("int")
    did = F.col("doc_id").cast("string")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda p: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, p * 12 + 1, 12), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title></head><body>'
              '<nav id="topnav"><a href="/">home</a> <a href="/a">about</a></nav>'
              '<div id="page"><div id="sidebar"><ul>'
              '<li><a href="/r1">related article number one</a></li>'
              '<li><a href="/r2">another related piece of writing</a></li>'
              '</ul></div><article id="main">'),
        paras,
        F.lit('</article><div id="comments">'
              '<p><a href="/u1">user1</a> says: first comment!</p>'
              '<p><a href="/u2">user2</a> replies briefly</p>'
              "</div></div><footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    return dom_extract(docs.select("doc_id", html.alias("html")))


_SQL_DOM_EXTRACT = r"""
WITH d AS (
  SELECT doc_id, text, source, string_split(text, ' ') AS words,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS INT) AS n_paras
  FROM documents
),
paras AS (
  SELECT doc_id, u.p AS p,
         trim(regexp_replace(
           array_to_string(list_slice(words, u.p*12 + 1, u.p*12 + 12), ' '),
           '\s+', ' ', 'g')) AS ptext
  FROM d, unnest(generate_series(0, n_paras - 1)) AS u(p)
),
pb AS (
  SELECT doc_id, p, ptext, len(ptext) AS plen,
         len(ptext) - len(replace(ptext, ',', '')) AS commas
  FROM paras
),
agg AS (
  SELECT doc_id,
         sum(CASE WHEN plen >= 25
                  THEN 1 + commas + least(plen // 100, 3) ELSE 0 END) AS score,
         count(*) FILTER (WHERE plen >= 25) AS n_blocks,
         string_agg(ptext, chr(10) ORDER BY p) FILTER (WHERE plen >= 25)
           AS main_text
  FROM pb GROUP BY doc_id
)
SELECT d.doc_id,
       -- NULL text/source → NULL html fed to the parser → empty-tree
       -- constants; no qualifying article paragraph → the fixed comments
       -- block wins (its one >=25-char paragraph scores 0.7778 after
       -- link-density damping, doc-independent; verified vs the engine)
       CASE WHEN d.text IS NULL OR d.source IS NULL THEN ''
            ELSE 'Doc ' || CAST(d.doc_id AS VARCHAR) END AS title,
       CASE WHEN d.text IS NULL OR d.source IS NULL THEN CAST(NULL AS VARCHAR)
            WHEN coalesce(agg.n_blocks, 0) = 0 THEN 'html/body/div#page/div#comments'
            ELSE 'html/body/div#page/article#main' END AS best_path,
       CASE WHEN d.text IS NULL OR d.source IS NULL THEN 0.0
            WHEN coalesce(agg.n_blocks, 0) = 0 THEN 0.7778
            ELSE round(CAST(agg.score AS DOUBLE), 4) END AS score,
       CAST(CASE WHEN d.text IS NULL OR d.source IS NULL THEN 0
                 WHEN coalesce(agg.n_blocks, 0) = 0 THEN 1
                 ELSE agg.n_blocks END AS INT) AS n_blocks,
       CASE WHEN d.text IS NULL OR d.source IS NULL THEN ''
            WHEN coalesce(agg.n_blocks, 0) = 0 THEN 'user1 says: first comment!'
            ELSE agg.main_text END AS main_text
FROM d LEFT JOIN agg USING (doc_id)
"""


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-50: one word-keyed aggregation (map-side
    partial agg) + TakeOrderedAndProject — never a full sort."""
    from .textstats import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=50)


_SQL_VOCAB_TOPK = """
WITH e AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
)
SELECT word, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM e WHERE word <> ''
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT 50
"""


def q_block_dedup(spark, sf_dir):
    """CCNet-style boilerplate removal: drop 16-word blocks whose corpus
    document frequency exceeds 5, reassemble survivors in order."""
    from .textstats import boilerplate_block_dedup

    return boilerplate_block_dedup(_docs(spark, sf_dir), block_words=16,
                                   max_block_df=5)


_SQL_BLOCK_DEDUP = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
b AS (
  SELECT doc_id,
         u.i AS block_idx,
         array_to_string(list_slice(words, u.i * 16 + 1, u.i * 16 + 16), ' ') AS block_text
  FROM w, unnest(generate_series(0, CAST(ceil(len(words) / 16.0) AS INT) - 1)) AS u(i)
),
hot AS (
  SELECT md5(block_text) AS block_hash
  FROM b GROUP BY 1 HAVING count(DISTINCT doc_id) > 5
),
kept AS (
  SELECT * FROM b WHERE md5(block_text) NOT IN (SELECT block_hash FROM hot)
),
re AS (
  SELECT doc_id,
         array_to_string(list_transform(
           list_sort(list_zip(list(block_idx ORDER BY block_idx),
                              list(block_text ORDER BY block_idx))),
           s -> s[2]), ' ') AS clean_text,
         CAST(count(*) AS INT) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(ceil(len(words) / 16.0) AS INT) AS n_total FROM w)
SELECT tot.doc_id,
       coalesce(re.clean_text, '') AS clean_text,
       coalesce(re.n_kept, 0) AS n_kept,
       CAST(tot.n_total - coalesce(re.n_kept, 0) AS INT) AS n_dropped
FROM tot LEFT JOIN re ON re.doc_id = tot.doc_id
"""


def q_line_dedup(spark, sf_dir):
    """RefinedWeb-style corpus-wide exact line dedup, keep-first: 8-word
    line segmentation, globally first occurrence survives (min(struct) agg,
    never a corpus window), survivors reassembled in order."""
    from .dedup import line_dedup_keep_first

    return line_dedup_keep_first(_docs(spark, sf_dir), line_words=8)


_SQL_LINE_DEDUP = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n WHERE norm <> ''),
l AS (
  SELECT doc_id, u.i AS line_idx,
         array_to_string(list_slice(words, u.i * 8 + 1, u.i * 8 + 8), ' ') AS line_text
  FROM w, unnest(generate_series(0, CAST(ceil(len(words) / 8.0) AS INT) - 1)) AS u(i)
),
r AS (
  SELECT doc_id, line_idx, line_text,
         row_number() OVER (PARTITION BY md5(line_text)
                            ORDER BY doc_id, line_idx) AS rn
  FROM l
)
SELECT doc_id,
       coalesce(array_to_string(
         list(line_text ORDER BY line_idx) FILTER (WHERE rn = 1), ' '), '')
         AS clean_text,
       CAST(count(*) FILTER (WHERE rn = 1) AS INT) AS n_kept,
       CAST(count(*) - count(*) FILTER (WHERE rn = 1) AS INT) AS n_dropped
FROM r GROUP BY doc_id
"""


def q_host_template(spark, sf_dir):
    """Site-template line removal (ops/textstats.host_template_strip): every
    page gains its host's deterministic nav header + copyright footer lines;
    the per-host relative-df threshold must strip exactly those (df ratio =
    100% within each source) while every body line survives.  The oracle
    replays the synthesis and the threshold arithmetic."""
    from pyspark.sql import functions as F

    from .textstats import host_template_strip

    d = _docs(spark, sf_dir)
    src = F.coalesce(F.col("source"), F.lit(""))
    synth = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("home about contact "), src, F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("copyright "), src, F.lit(" all rights reserved"),
        ).alias("text"),
    )
    return host_template_strip(synth, host_col="source")


_SQL_HOST_TEMPLATE = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         coalesce(source, '') AS host,
         'home about contact ' || coalesce(source, '') || chr(10) || text ||
           chr(10) || 'copyright ' || coalesce(source, '')
           || ' all rights reserved' AS text
  FROM documents WHERE text IS NOT NULL
),
l AS (
  SELECT doc_id, host, u.i AS line_idx,
         list_extract(string_split(text, chr(10)), u.i + 1) AS line
  FROM d, unnest(generate_series(0,
         len(string_split(text, chr(10))) - 1)) AS u(i)
),
hp AS (SELECT host, count(*) AS n_pages FROM d GROUP BY host),
ldf AS (
  SELECT host, md5(trim(line)) AS line_key, count(DISTINCT doc_id) AS df
  FROM l WHERE trim(line) <> '' GROUP BY 1, 2
),
tpl AS (
  SELECT ldf.host, ldf.line_key
  FROM ldf JOIN hp USING (host)
  WHERE hp.n_pages >= 3 AND ldf.df * 10000 >= 5000 * hp.n_pages
),
k AS (
  SELECT l.doc_id, l.line_idx, l.line FROM l
  WHERE NOT EXISTS (SELECT 1 FROM tpl
                    WHERE tpl.host = l.host
                      AND tpl.line_key = md5(trim(l.line)))
)
SELECT t.doc_id,
       coalesce(kk.clean_text, '') AS clean_text,
       CAST(coalesce(kk.n_kept, 0) AS INT) AS n_kept,
       CAST(t.n_total - coalesce(kk.n_kept, 0) AS INT) AS n_dropped
FROM (SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id) t
LEFT JOIN (SELECT doc_id,
                  array_to_string(list(line ORDER BY line_idx), ' ')
                    AS clean_text,
                  count(*) AS n_kept
           FROM k GROUP BY doc_id) kk USING (doc_id)
"""


def q_repetition_stats(spark, sf_dir):
    from .textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), gram_n=2)


_SQL_REPETITION_STATS = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(words, i.i + 1, i.i + 2), ' ') AS gram
  FROM w, unnest(generate_series(0, len(words) - 2)) AS i(i)
  WHERE len(words) >= 2
),
pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS INT) AS n_grams,
       CAST(count(*) AS INT) AS n_distinct_grams,
       CAST(max(c) AS INT) AS top_gram_count,
       CAST(floor((sum(c) - count(*)) * 10000 / sum(c)) AS INT) AS dup_gram_bp,
       CAST(floor(max(c) * 10000 / sum(c)) AS INT) AS top_gram_bp
FROM pg GROUP BY doc_id
"""


def q_gopher_filter(spark, sf_dir):
    from .textstats import gopher_quality_filter

    return gopher_quality_filter(_docs(spark, sf_dir))


_SQL_GOPHER_FILTER = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words, length(text) AS nc, text
  FROM documents
),
r AS (
  SELECT doc_id, len(words) AS n,
         floor((nc - (len(words) - 1)) * 10000 / len(words)) AS mwl,
         CASE WHEN nc > 0
              THEN floor(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 10000 / nc)
              ELSE 10000 END AS sym,
         len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS sh
  FROM w
)
SELECT doc_id,
       CAST(n AS INT) AS n_words,
       CAST(mwl AS INT) AS mean_wlen_bp,
       CAST(sym AS INT) AS symbol_bp,
       CAST(sh AS INT) AS stopword_hits,
       n >= 5 AND n <= 100000 AS pass_words,
       mwl >= 20000 AND mwl <= 120000 AS pass_wlen,
       sym <= 1000 AS pass_symbol,
       sh >= 1 AS pass_stopwords,
       (n >= 5 AND n <= 100000) AND (mwl >= 20000 AND mwl <= 120000)
         AND sym <= 1000 AND sh >= 1 AS keep
FROM r
"""


def q_pii_scrub(spark, sf_dir):
    """PII sweep over text with deterministically injected email/IP/phone —
    counts and the redacted string are value-checked exactly."""
    from pyspark.sql import functions as F

    from .textstats import pii_scrub

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" mail doc"), F.col("doc_id").cast("string"),
            F.lit("@ex-a.com ip 10.20."),
            F.pmod(F.col("doc_id"), F.lit(250)).cast("string"),
            F.lit(".7 tel +1 555 000 1234 end"),
        ).alias("text"),
    )
    return pii_scrub(d)


_SQL_PII_SCRUB = """
WITH d AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' mail doc' || CAST(doc_id AS VARCHAR)
           || '@ex-a.com ip 10.20.' || CAST(doc_id % 250 AS VARCHAR)
           || '.7 tel +1 555 000 1234 end' AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,14}[0-9]')) AS INT) AS n_phones,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
      '[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?', '<IP>', 'g'),
    '\\+[0-9][0-9 -]{7,14}[0-9]', '<PHONE>', 'g') AS redacted
FROM d
"""


def q_media_features(spark, sf_dir):
    """Multimodal per-page feature extraction over deterministic synthetic
    payloads derived from doc_ids — exercises the full mapInPandas plumbing
    (render → resize → bitmap → crop-margin → features); rows-only check."""
    from pyspark.sql import functions as F

    from .media_features import extract_media_features

    # unordered .limit(): the first rows of the one-file scan (test_hash_pins)
    fixture = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    ).limit(200)
    return extract_media_features(fixture, render_dpi=24, frame_every=1,
                                  resize_longest=128)


def q_media_frames(spark, sf_dir):
    """Video-style frame sampling: multi-frame synthetic media (up to 8
    frames per ref), every-3rd-frame sampling through the same mapInPandas
    feature path - the frame_sample leg of the multimodal suite; rows-only
    (md5-pinned in tests/test_hash_pins.py)."""
    from pyspark.sql import functions as F

    from .media_features import extract_media_features

    # unordered .limit(): the first rows of the one-file scan (test_hash_pins)
    fixture = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(8)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    ).limit(200)
    return extract_media_features(fixture, render_dpi=24, frame_every=3,
                                  resize_longest=128)


def q_media_frames_struct(spark, sf_dir):
    """Structural twin of media_frames with a HARD oracle: same pipeline
    (render -> every-3rd-frame sampling -> resize-keep-ratio(128) ->
    features) over a deterministic doc_id<200 fixture, projecting the
    sampled frame indices and output geometry (128x99 from the 264x204
    dpi-24 page) - frame_sample_indices and the keep-ratio resize are
    value-checked; pixel stats stay md5-pinned via media_frames."""
    from pyspark.sql import functions as F

    from .media_features import extract_media_features

    fixture = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(8)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    )
    out = extract_media_features(fixture, render_dpi=24, frame_every=3,
                                 resize_longest=128)
    return out.select("doc_id", "media_ref", "page", "height", "width", "error")


_SQL_MEDIA_FRAMES_STRUCT = """
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, (doc_id % 8) + 1 AS n_pages
  FROM documents WHERE doc_id < 200
)
SELECT ds AS doc_id,
       'synth://v1/L/' || CAST(n_pages AS VARCHAR) || '/' || ds AS media_ref,
       CAST(u.p AS INT) AS page,
       CAST(128 AS INT) AS height, CAST(99 AS INT) AS width,
       CAST(NULL AS VARCHAR) AS error
FROM f, unnest(generate_series(0, n_pages - 1)) AS u(p)
WHERE u.p % 3 = 0
"""


def q_media_features_struct(spark, sf_dir):
    """Structural twin of media_features with a HARD oracle: the same
    pipeline (render -> every-frame sampling -> resize-keep-ratio(128) ->
    bitmap -> crop-margin -> features) over a deterministic doc_id<200
    fixture with the media_features page-count law (doc_id%4+1 pages),
    projecting fan-out and output geometry.  Everything upstream of the
    pixel kernels — ref parsing, frame expansion, the keep-ratio resize
    (128x99 from the 264x204 dpi-24 page), error-row absence — is
    value-checked; crop box / ink stats stay md5-pinned via
    media_features."""
    from pyspark.sql import functions as F

    from .media_features import extract_media_features

    fixture = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    )
    out = extract_media_features(fixture, render_dpi=24, frame_every=1,
                                 resize_longest=128)
    return out.select("doc_id", "media_ref", "page", "height", "width", "error")


_SQL_MEDIA_FEATURES_STRUCT = """
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, (doc_id % 4) + 1 AS n_pages
  FROM documents WHERE doc_id < 200
)
SELECT ds AS doc_id,
       'synth://v1/L/' || CAST(n_pages AS VARCHAR) || '/' || ds AS media_ref,
       CAST(u.p AS INT) AS page,
       CAST(128 AS INT) AS height, CAST(99 AS INT) AS width,
       CAST(NULL AS VARCHAR) AS error
FROM f, unnest(generate_series(0, n_pages - 1)) AS u(p)
"""


def q_media_train(spark, sf_dir):
    """Train-path augmentation pipeline over synthetic payloads: render →
    doc_train_transform (hash-keyed stochastic stages) → tensor stats +
    applied-stage flags.  Pixels are numpy (rows-only check); the stage
    SCHEDULE itself is value-checked by the ``aug_schedule`` oracle query."""
    from pyspark.sql import functions as F

    from .media_features import extract_train_tensors

    # unordered .limit(): the first rows of the one-file scan (test_hash_pins)
    fixture = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    ).limit(100)
    return extract_train_tensors(fixture, image_size=(64, 96), render_dpi=24)


def q_image_eval(spark, sf_dir):
    """Natural-image eval pipeline (image_basic/image_timm,
    build_transforms_image.py:166-196) over synthetic payloads, cycling all
    three resize modes (shortest/longest/squash) by doc_id; emits
    normalized-tensor stats.  Pixel kernels -> rows-only (md5-pinned);
    the geometry/fan-out surface is oracle-checked via image_eval_struct."""
    from pyspark.sql import functions as F

    from .image_transforms import extract_image_tensors

    # unordered .limit(): the first rows of the one-file scan (test_hash_pins)
    fixture = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
        F.element_at(
            F.array(F.lit("shortest"), F.lit("longest"), F.lit("squash")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("resize_mode"),
    ).limit(200)
    return extract_image_tensors(fixture, image_size=(48, 64), render_dpi=24)


def q_image_train(spark, sf_dir):
    """Natural-image train pipeline: deterministic RandomResizedCrop (+
    imagenet-style jitter) with the drawn crop box emitted per row — the
    box schedule is part of the pinned value surface even though pixels
    are rows-only; the box draws are oracle-checked via image_train_struct."""
    from pyspark.sql import functions as F

    from .image_transforms import AUG_IMAGENET, extract_image_tensors

    # unordered .limit(): the first rows of the one-file scan (test_hash_pins)
    fixture = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(2)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    ).limit(100)
    return extract_image_tensors(
        fixture, image_size=(48, 48), is_training=True, aug=AUG_IMAGENET,
        render_dpi=24,
    )


def q_image_eval_struct(spark, sf_dir):
    """Structural twin of image_eval with a HARD oracle: same pipeline
    (render → eval resize → normalize) over a deterministic doc_id<200
    fixture, projecting everything except the pixel stats — row fan-out
    (one row per payload page), resize-mode schedule, and output geometry
    (every eval mode lands exactly on image_size) are all SQL-derivable."""
    from pyspark.sql import functions as F

    from .image_transforms import extract_image_tensors

    fixture = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
        F.element_at(
            F.array(F.lit("shortest"), F.lit("longest"), F.lit("squash")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("resize_mode"),
    )
    out = extract_image_tensors(fixture, image_size=(48, 64), render_dpi=24)
    return out.select(
        "doc_id", "media_ref", "page", "resize_mode", "height", "width", "error"
    )


_SQL_IMAGE_EVAL_STRUCT = """
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, (doc_id % 3) + 1 AS n_pages,
         ['shortest','longest','squash'][CAST((doc_id % 3) + 1 AS INT)] AS resize_mode
  FROM documents WHERE doc_id < 200
)
SELECT ds AS doc_id,
       'synth://v1/L/' || CAST(n_pages AS VARCHAR) || '/' || ds AS media_ref,
       CAST(u.p AS INT) AS page, resize_mode,
       CAST(48 AS INT) AS height, CAST(64 AS INT) AS width,
       CAST(NULL AS VARCHAR) AS error
FROM f, unnest(generate_series(0, n_pages - 1)) AS u(p)
"""


def q_image_train_struct(spark, sf_dir):
    """Structural twin of image_train with a HARD oracle: the md5-keyed
    RandomResizedCrop box schedule (torchvision get_params: 10 attempts of
    uniform area × log-uniform aspect, then the ratio-clamped center
    fallback) replayed in DuckDB from the same aug_draw primitive — the
    drawn (top, left, h, w) per page is value-checked; pixels stay
    md5-pinned via image_train."""
    from pyspark.sql import functions as F

    from .image_transforms import AUG_IMAGENET, extract_image_tensors

    fixture = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(2)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    )
    out = extract_image_tensors(
        fixture, image_size=(48, 48), is_training=True, aug=AUG_IMAGENET,
        render_dpi=24,
    )
    return out.select(
        "doc_id", "media_ref", "page", "resize_mode", "height", "width",
        "rrc_top", "rrc_left", "rrc_h", "rrc_w", "error"
    )


def _image_train_struct_sql() -> str:
    import math

    # render_page at dpi 24: (h, w) = (int(792/3), int(612/3)) = (264, 204)
    h, w = 264, 204
    area = float(h * w)
    lo_s, span_s = 0.08, 1.0 - 0.08             # AUG_IMAGENET scale
    ln_lo, ln_span = math.log(0.75), math.log(1.0 / 0.75) - math.log(0.75)
    fold = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', substr(md5({key}), "
        "CAST(i AS INT), 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b) / 4294967296.0)"
    )
    key_base = "'img|' || ds || '|' || CAST(page AS VARCHAR) || '|0|rrc' || CAST(attempt AS VARCHAR)"

    def u(tag):
        return fold.format(key=f"{key_base} || '|{tag}'")

    return f"""
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, (doc_id % 2) + 1 AS n_pages
  FROM documents WHERE doc_id < 100
),
pg AS (
  SELECT ds, n_pages, u.p AS page
  FROM f, unnest(generate_series(0, n_pages - 1)) AS u(p)
),
att AS (
  SELECT ds, n_pages, page, a.a AS attempt,
         {area!r} * ({lo_s!r} + {span_s!r} * {u("area")}) AS ta,
         exp({ln_lo!r} + {ln_span!r} * {u("ratio")}) AS ar
  FROM pg, unnest(generate_series(0, 9)) AS a(a)
),
boxes AS (
  SELECT *, CAST(round(sqrt(ta * ar)) AS INT) AS cw,
            CAST(round(sqrt(ta / ar)) AS INT) AS ch
  FROM att
),
win AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ds, page ORDER BY attempt) AS rn
    FROM boxes WHERE cw > 0 AND cw <= {w} AND ch > 0 AND ch <= {h}
  ) WHERE rn = 1
),
chosen AS (
  SELECT ds, n_pages, page,
         CAST(floor({u("top")} * ({h} - ch + 1)) AS INT) AS rrc_top,
         CAST(floor({u("left")} * ({w} - cw + 1)) AS INT) AS rrc_left,
         ch AS rrc_h, cw AS rrc_w
  FROM win
  UNION ALL
  SELECT pg.ds, pg.n_pages, pg.page, 0, 0, {h}, {w}
  FROM pg WHERE NOT EXISTS (SELECT 1 FROM win
                            WHERE win.ds = pg.ds AND win.page = pg.page)
)
SELECT ds AS doc_id,
       'synth://v1/L/' || CAST(n_pages AS VARCHAR) || '/' || ds AS media_ref,
       CAST(page AS INT) AS page, 'train' AS resize_mode,
       CAST(48 AS INT) AS height, CAST(48 AS INT) AS width,
       rrc_top, rrc_left, CAST(rrc_h AS INT) AS rrc_h, CAST(rrc_w AS INT) AS rrc_w,
       CAST(NULL AS VARCHAR) AS error
FROM chosen
"""


def _aug_consts():
    """(name, lo, span, prob) per oracle-checked stage — computed ONCE in
    Python and embedded verbatim (full repr precision) in both the Spark
    plan and the generated DuckDB SQL, so lo + span*u is the identical
    double expression on both engines."""
    from .media_features import DOC_TRAIN_DEFAULTS as P

    return {
        "scale": (P["scale_range"][0], P["scale_range"][1] - P["scale_range"][0],
                  P["scale_prob"]),
        "bitmap": (None, None, P["bitmap_prob"]),
        "shearx": (P["shear_range_x"][0],
                   P["shear_range_x"][1] - P["shear_range_x"][0], P["shear_prob"]),
        "bright": (1 - P["brightness_range"], 2 * P["brightness_range"],
                   P["brightness_contrast_prob"]),
        "blursig": (0.1, 0.8 - 0.1, P["gaussian_blur_prob"]),
    }


def q_aug_schedule(spark, sf_dir):
    """The deterministic augmentation SCHEDULE of the train path as a pure
    Column-expression query: per (doc, page), which stochastic stages fire
    and the drawn magnitudes — u = md5-fold/2^32, the exact draw the pixel
    UDF consumes (media_features.aug_draw).  Fully oracle-checked: the
    'randomness' of the training pipeline is itself value-verified."""
    from pyspark.sql import functions as F

    c = _aug_consts()

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.sequence(F.lit(0), F.pmod(F.col("doc_id"), F.lit(4)).cast("int"))
        ).alias("page"),
    )
    key = F.concat(
        F.lit("aug|"), F.col("doc_id").cast("string"), F.lit("|"),
        F.col("page").cast("string"), F.lit("|0"),
    )

    def u(stage):
        m = F.md5(F.concat(key, F.lit("|" + stage)))
        return F.conv(F.substring(m, 1, 8), 16, 10).cast("long") / F.lit(2.0**32)

    def bp(col):
        return F.floor(col * 10000).cast("int")

    cols = [F.col("doc_id"), F.col("page")]
    for name, probe_stage, mag_stage in [
        ("scale", "scale?", "scale"),
        ("bitmap", "bitmap?", None),
        ("shearx", "shear?", "shearx"),
        ("bright", "jitter?", "bright"),
        ("blursig", "blur?", "blursig"),
    ]:
        lo, span, prob = c[name]
        cols.append((u(probe_stage) < F.lit(prob)).alias(f"apply_{name}"))
        if mag_stage is not None:
            mag = F.lit(lo) + F.lit(span) * u(mag_stage)
            cols.append(bp(mag).alias(f"{name}_bp"))
    return d.select(*cols)


def _aug_schedule_sql() -> str:
    c = _aug_consts()
    fold = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', substr(md5({key} || '|' || '{stage}'), "
        "CAST(i AS INT), 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b) / 4294967296.0)"
    )
    key_sql = "'aug|' || CAST(doc_id AS VARCHAR) || '|' || CAST(page AS VARCHAR) || '|0'"

    def u(stage):
        return fold.format(key=key_sql, stage=stage)

    sel = ["doc_id", "page"]
    for name, probe_stage, mag_stage in [
        ("scale", "scale?", "scale"),
        ("bitmap", "bitmap?", None),
        ("shearx", "shear?", "shearx"),
        ("bright", "jitter?", "bright"),
        ("blursig", "blur?", "blursig"),
    ]:
        lo, span, prob = c[name]
        sel.append(f"{u(probe_stage)} < {prob!r} AS apply_{name}")
        if mag_stage is not None:
            sel.append(
                f"CAST(floor(({lo!r} + {span!r} * {u(mag_stage)}) * 10000) AS INT)"
                f" AS {name}_bp"
            )
    return (
        "SELECT " + ",\n       ".join(sel) + "\n"
        "FROM (SELECT doc_id, unnest(generate_series(0, CAST(doc_id % 4 AS INT))) AS page\n"
        "      FROM documents)"
    )


def _nougat_stage_table():
    """(name, probe_key, prob, mag_key, lo, span) rows for the oracle-checked
    nougat schedule — constants computed ONCE from NOUGAT_TRAIN_DEFAULTS and
    embedded verbatim in both engines (same pattern as _aug_consts)."""
    from .media_features import NOUGAT_TRAIN_DEFAULTS as P

    return [
        ("bitmap", "bitmap?", P["bitmap_prob"], None, None, None),
        ("eros", "eros?", P["erosion_dilation_prob"], None, None, None),
        ("shear", "shear?", P["shear_prob"], "shearx",
         P["shear_range_x"][0], P["shear_range_x"][1] - P["shear_range_x"][0]),
        ("ssr", "ssr?", P["shift_scale_rotate_prob"], "ssrscale",
         1.0 + P["scale_limit"][0], P["scale_limit"][1] - P["scale_limit"][0]),
        ("grid", "grid?", P["grid_distort_prob"], "gridx0",
         -P["grid_distort_range"], 2 * P["grid_distort_range"]),
        ("elastic", "elastic?", P["elastic_prob"], None, None, None),
        ("jitter", "jitter?", P["brightness_contrast_prob"], "bright",
         1 - P["brightness_range"], 2 * P["brightness_range"]),
        ("compress", "compress?", P["image_compression_prob"], "quality",
         float(P["image_compression_quality"]),
         100.0 - P["image_compression_quality"]),
        ("noise", "noise?", P["gaussian_noise_prob"], "noisevar",
         0.0, P["gaussian_noise_range"]),
        ("blur", "blur?", P["gaussian_blur_prob"], "blursig", 0.1, 0.7),
    ]


def q_aug_schedule_nougat(spark, sf_dir):
    """The doc_nougat train pipeline's deterministic draw schedule
    (ref build_transforms_doc.py:177-296 stage list) as a pure
    Column-expression query — per (doc, page): every stage's apply
    decision plus drawn magnitudes in basis points, the exact md5 draws
    doc_nougat_train_transform consumes.  Fully oracle-checked."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.sequence(F.lit(0), F.pmod(F.col("doc_id"), F.lit(4)).cast("int"))
        ).alias("page"),
    )
    key = F.concat(
        F.lit("aug|"), F.col("doc_id").cast("string"), F.lit("|"),
        F.col("page").cast("string"), F.lit("|0"),
    )

    def u(stage):
        m = F.md5(F.concat(key, F.lit("|" + stage)))
        return F.conv(F.substring(m, 1, 8), 16, 10).cast("long") / F.lit(2.0**32)

    cols = [F.col("doc_id"), F.col("page")]
    for name, probe, prob, mag, lo, span in _nougat_stage_table():
        cols.append((u(probe) < F.lit(prob)).alias(f"apply_{name}"))
        if mag is not None:
            cols.append(
                F.floor((F.lit(lo) + F.lit(span) * u(mag)) * 10000)
                .cast("int").alias(f"{name}_bp")
            )
    # the two integer draws (erosion kernel size, elastic pre-shift px)
    cols.append((F.lit(2) + F.floor(u("erosk") * 2)).cast("int").alias("eros_kernel"))
    cols.append(F.floor(u("epre") * 6).cast("int").alias("elastic_shift"))
    return d.select(*cols)


def _aug_schedule_nougat_sql() -> str:
    fold = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', substr(md5({key} || '|' || '{stage}'), "
        "CAST(i AS INT), 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b) / 4294967296.0)"
    )
    key_sql = "'aug|' || CAST(doc_id AS VARCHAR) || '|' || CAST(page AS VARCHAR) || '|0'"

    def u(stage):
        return fold.format(key=key_sql, stage=stage)

    sel = ["doc_id", "page"]
    for name, probe, prob, mag, lo, span in _nougat_stage_table():
        sel.append(f"{u(probe)} < {prob!r} AS apply_{name}")
        if mag is not None:
            sel.append(
                f"CAST(floor(({lo!r} + {span!r} * {u(mag)}) * 10000) AS INT)"
                f" AS {name}_bp"
            )
    sel.append(f"CAST(2 + floor({u('erosk')} * 2) AS INT) AS eros_kernel")
    sel.append(f"CAST(floor({u('epre')} * 6) AS INT) AS elastic_shift")
    return (
        "SELECT " + ",\n       ".join(sel) + "\n"
        "FROM (SELECT doc_id, unnest(generate_series(0, CAST(doc_id % 4 AS INT))) AS page\n"
        "      FROM documents)"
    )


def q_media_train_nougat(spark, sf_dir):
    """doc_nougat train pixels over synthetic payloads: render →
    doc_nougat_train_transform (bitmap/erosion/shear/SSR/grid/elastic/
    jitter/JPEG-DCT-compression/gauss-noise/blur, all md5-keyed) → tensor
    stats + applied-stage flags.  Pixels are numpy (rows-only check); the
    stage SCHEDULE is value-checked by ``aug_schedule_nougat``."""
    from pyspark.sql import functions as F

    from .media_features import extract_train_tensors

    fixture = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
    )
    return extract_train_tensors(
        fixture, image_size=(64, 96), render_dpi=24, variant="nougat"
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessions over the events table (30-min gap): window lag →
    boundary flag → running sum, one shuffle on user_id.  All time math in
    integer microseconds (engine-portable)."""
    from .events import sessionize

    events = _events(spark, sf_dir)
    return sessionize(events, gap_minutes=30)


_SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
), flagged AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w >= 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
), sess AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, min(tus) AS start_us, max(tus) AS end_us,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM sess
GROUP BY user_id, session_no
"""


def q_events_sliding(spark, sf_dir):
    """Sliding (hopping) event-time windows: width 10 min, hop 5 min — each
    event lands in 2 windows.  Oracle reproduces the window fan-out with a
    generate_series unnest over hop buckets."""
    from pyspark.sql import functions as F

    from ..streaming.windows import sliding_counts

    events = _events(spark, sf_dir)
    return sliding_counts(events, width_minutes=10, hop_minutes=5).select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


_SQL_EVENTS_SLIDING = """
WITH e AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS hb, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
),
x AS (
  SELECT hb - u.k * INTERVAL '5 minutes' AS win_start, event_type, cents
  FROM e, unnest(generate_series(0, 1)) AS u(k)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM x
GROUP BY 1, 2
"""


def q_audio_features(spark, sf_dir):
    """Audio-column feature extraction (rows-only: FFT has no SQL twin;
    output is deterministic and md5-pinned in tests/test_hash_pins.py)."""
    from pyspark.sql import functions as F

    from .audio import extract_audio_features

    refs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("audio:"), F.md5(F.col("doc_id").cast("string"))).alias("media_ref"),
    )
    return extract_audio_features(refs)


def q_audio_struct(spark, sf_dir):
    """Structural twin of audio_features with a HARD oracle: clip-length
    discovery is md5-derivable (n = sr/10 + u16(md5(ref)[:2]) % sr,
    ops/audio.synth_waveform), so n_samples/duration_ms are value-checked in
    DuckDB; the waveform-derived features (rms/zcr/peak/dom-freq FFT) stay
    md5-pinned via audio_features."""
    from pyspark.sql import functions as F

    from .audio import extract_audio_features

    refs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("audio:"), F.md5(F.col("doc_id").cast("string"))).alias("media_ref"),
    )
    return extract_audio_features(refs).select(
        "doc_id", "media_ref", "n_samples", "duration_ms", "error"
    )


_SQL_AUDIO_STRUCT = """
WITH r AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'audio:' || md5(CAST(doc_id AS VARCHAR)) AS media_ref
  FROM documents
),
n AS (
  SELECT doc_id, media_ref,
         1600 + CAST(
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, 4),
               i -> CAST(strpos('0123456789abcdef', substr(md5(media_ref),
                    CAST(i AS INT), 1)) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b) % 16000 AS INT) AS n_samples
  FROM r
)
SELECT doc_id, media_ref, n_samples,
       -- python round() is banker's: the .5 tie (n % 16 == 8) rounds to even
       CAST(CASE WHEN n_samples % 16 = 8
                 THEN (n_samples // 16) + ((n_samples // 16) % 2)
                 ELSE round(n_samples * 1000.0 / 16000) END AS INT) AS duration_ms,
       CAST(NULL AS VARCHAR) AS error
FROM n
"""


def q_props_extract(spark, sf_dir):
    """Semi-structured extraction: pull the integer k out of the events
    props JSON column (scan-side get_json_object — no UDF, prunes to two
    columns) and aggregate per event type."""
    from pyspark.sql import functions as F

    events = _events(spark, sf_dir)
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_SQL_PROPS_EXTRACT = """
SELECT event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS BIGINT)) AS min_k,
       max(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def q_sessionize_presplit(spark, sf_dir):
    """Skew-safe two-phase sessionize - SAME oracle as q_sessionize, so the
    rewrite is proven equal to the straightforward SQL formulation."""
    from .events import sessionize_presplit

    events = _events(spark, sf_dir)
    return sessionize_presplit(events, gap_minutes=30, split_hours=6)


def q_asof_join(spark, sf_dir):
    """As-of join: every event annotated with the user's most recent 'error'
    event at-or-before it.  Spark lacks ASOF JOIN — this is the union+window
    formulation (one shuffle, no range-join explosion); the oracle is
    DuckDB's native ASOF LEFT JOIN, so two entirely different physical
    strategies must produce identical rows."""
    from .events import asof_attach_last_mark

    events = _events(spark, sf_dir)
    return asof_attach_last_mark(events, mark_type="error")


_SQL_ASOF_JOIN = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
  FROM events WHERE ts IS NOT NULL
), marks AS (
  SELECT user_id, tus, max(event_id) AS mark_id
  FROM e WHERE event_type = 'error' GROUP BY user_id, tus
)
SELECT e.event_id, e.user_id, m.mark_id AS last_mark_id,
       e.tus - m.tus AS us_since_mark
FROM e ASOF LEFT JOIN marks m
  ON e.user_id = m.user_id AND e.tus >= m.tus
"""


_STRAT_FRACTIONS = {"en": 0.25, "de": 0.75, "fr": 1.0}


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum (language) sampling: md5-draw < per-lang
    fraction — a pure scan-side filter, zero shuffle, same sample at any
    parallelism."""
    from .dataflow import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), _STRAT_FRACTIONS, key="lang"
    ).select("doc_id", "lang", "source")


def _stratified_sample_sql() -> str:
    u = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', "
        "substr(md5('strat|' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) "
        "- 1 AS BIGINT))), (a, b) -> a * 16 + b) / 4294967296.0)"
    )
    cases = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_STRAT_FRACTIONS.items())
    )
    return (
        f"SELECT doc_id, lang, source FROM documents "
        f"WHERE {u} < (CASE lang {cases} ELSE 0.0 END)"
    )


def q_curation_sampled(spark, sf_dir):
    """The curation funnel with a final corpus-rebalancing stage: quality
    gate -> exact dedup -> near-dup representatives -> per-language
    stratified sample.  The oracle nests the full funnel SQL as a CTE, so
    the four-stage composition is value-checked end to end."""
    from pyspark.sql import functions as F

    from .dataflow import stratified_sample
    from .pipeline import curate_corpus

    docs = _docs(spark, sf_dir)
    kept = curate_corpus(docs)
    enriched = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "source"
    ).join(kept, "doc_id")
    return stratified_sample(enriched, _STRAT_FRACTIONS, key="lang").select(
        "doc_id", "lang", "source"
    )


def _curation_sampled_sql() -> str:
    u = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', "
        "substr(md5('strat|' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) "
        "- 1 AS BIGINT))), (a, b) -> a * 16 + b) / 4294967296.0)"
    )
    cases = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_STRAT_FRACTIONS.items())
    )
    return f"""
WITH kept AS ({_curation_sql()}),
enriched AS (
  SELECT d.doc_id, d.lang, d.source FROM documents d JOIN kept USING (doc_id)
)
SELECT doc_id, lang, source FROM enriched
WHERE {u} < (CASE lang {cases} ELSE 0.0 END)
"""


def q_embed_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding column:
    exact integer codes + rounded scale/error, map-only.  The int8 code
    array is serialized to a comma-joined string for the driver contract —
    the driver's pandas canonicalizer cannot hash list cells (r3 red row);
    the library API (`quantize_embeddings_int8`) still returns the array."""
    from pyspark.sql import functions as F

    from .similarity import quantize_embeddings_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_embeddings_int8(emb)
    return q.select(
        "vec_id",
        "scale_bp",
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes_csv"),
        "max_abs_err_bp",
    )


_SQL_EMBED_QUANTIZE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
m AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM v
),
q AS (
  SELECT vec_id, v, max_abs / 127.0 AS scale,
         list_transform(v, x -> greatest(-127,
             least(127, CAST(round(x / (max_abs / 127.0)) AS INT)))) AS codes
  FROM m WHERE max_abs > 0
)
SELECT vec_id,
       round(scale * 10000, 4) AS scale_bp,
       coalesce(array_to_string(codes, ','), '') AS codes_csv,
       round(list_max(list_transform(list_zip(v, codes),
             s -> abs(s[1] - CAST(s[2] AS DOUBLE) * scale))) * 10000, 4)
         AS max_abs_err_bp
FROM q
"""


def q_topk_per_group(spark, sf_dir):
    """Top-3 longest documents per language: row_number window with a full
    deterministic tie-break - the per-group limit every curation report
    needs (and the pattern that replaces per-group collects)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


_SQL_TOPK_PER_GROUP = """
SELECT doc_id, lang, n_chars,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS rk
FROM documents
QUALIFY rk <= 3
"""


def q_length_percentiles(spark, sf_dir):
    """Per-language exact length percentiles (p25/p50/p75, linear
    interpolation) - the corpus-distribution report; one hash aggregation."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    pct = F.percentile("n_chars", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.round(F.get(pct, 0), 4).alias("p25"),
        F.round(F.get(pct, 1), 4).alias("p50"),
        F.round(F.get(pct, 2), 4).alias("p75"),
    )


_SQL_LENGTH_PERCENTILES = """
SELECT lang, CAST(count(*) AS INT) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.50), 4) AS p50,
       round(quantile_cont(n_chars, 0.75), 4) AS p75
FROM documents
GROUP BY lang
"""


def q_substring_spans(spark, sf_dir):
    """Exact-substring dedup spans: 10-word windows occurring >= 2 times in
    the corpus, merged per doc into maximal word-offset spans."""
    from .dedup import exact_substring_spans

    return exact_substring_spans(_docs(spark, sf_dir), window_words=10)


_SQL_SUBSTRING_SPANS = r"""
WITH w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
wins AS (
  SELECT doc_id, u.i AS start,
         md5(array_to_string(list_slice(w, u.i + 1, u.i + 10), ' ')) AS whash
  FROM w, unnest(generate_series(0, len(w) - 10)) AS u(i)
  WHERE len(w) >= 10
),
repeated AS (
  SELECT whash FROM wins GROUP BY whash HAVING count(*) >= 2
),
rep AS (
  SELECT doc_id, start, start + 9 AS "end"
  FROM wins SEMI JOIN repeated USING (whash)
),
isl AS (
  SELECT doc_id, start, "end",
         sum(CASE WHEN prev_end IS NULL OR start > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT doc_id, start, "end", lag("end") OVER (PARTITION BY doc_id ORDER BY start) AS prev_end
    FROM rep
  )
)
SELECT doc_id, min(start) AS span_start, max("end") AS span_end,
       CAST(count(*) AS INT) AS n_windows
FROM isl
GROUP BY doc_id, island
"""


def q_substring_cut(spark, sf_dir):
    """Exact-substring dedup APPLIED: repeated 10-word regions cut from
    every doc except the canonical (first) occurrence."""
    from .dedup import exact_substring_dedup_cut

    return exact_substring_dedup_cut(_docs(spark, sf_dir), window_words=10)


_SQL_SUBSTRING_CUT = r"""
WITH w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
wins AS (
  SELECT doc_id, u.i AS start,
         md5(array_to_string(list_slice(w, u.i + 1, u.i + 10), ' ')) AS whash
  FROM w, unnest(generate_series(0, len(w) - 10)) AS u(i)
  WHERE len(w) >= 10
),
stats AS (
  SELECT whash, count(*) AS occ,
         min(struct_pack(doc_id := doc_id, start := start)) AS keeper
  FROM wins GROUP BY whash
),
cut_wins AS (
  SELECT wins.doc_id, wins.start, wins.start + 9 AS "end"
  FROM wins JOIN stats USING (whash)
  WHERE stats.occ >= 2
    AND (wins.doc_id <> stats.keeper.doc_id OR wins.start <> stats.keeper.start)
),
isl AS (
  SELECT doc_id, start, "end",
         sum(CASE WHEN prev_end IS NULL OR start > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT doc_id, start, "end",
           lag("end") OVER (PARTITION BY doc_id ORDER BY start) AS prev_end
    FROM cut_wins
  )
),
spans AS (
  SELECT doc_id, list_sort(list(struct_pack(s := s, e := e))) AS spans
  FROM (SELECT doc_id, island, min(start) AS s, max("end") AS e
        FROM isl GROUP BY doc_id, island)
  GROUP BY doc_id
)
SELECT w.doc_id,
       CASE WHEN w.w IS NULL THEN NULL ELSE coalesce(array_to_string(
         list_transform(
           list_filter(
             list_zip(w.w, generate_series(0, len(w.w) - 1)),
             p -> len(list_filter(coalesce(spans.spans, []),
                                  sp -> p[2] >= sp.s AND p[2] <= sp.e)) = 0),
           p -> p[1]),
         ' '), '') END AS clean_text,
       CAST(len(w.w) - len(list_filter(
             list_zip(w.w, generate_series(0, len(w.w) - 1)),
             p -> len(list_filter(coalesce(spans.spans, []),
                                  sp -> p[2] >= sp.s AND p[2] <= sp.e)) = 0)) AS INT) AS n_words_cut
FROM w LEFT JOIN spans ON spans.doc_id = w.doc_id
"""


def q_tfidf_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (score desc, term asc tie-break)."""
    from .textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


_SQL_TFIDF_TERMS = r"""
WITH t AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tt GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT doc_id, term,
       round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) DESC, term)
            AS INT) AS rk
FROM tf JOIN df USING (term), n
QUALIFY rk <= 3
"""


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-5 per query over the documents table, with the
    query set derived deterministically from the corpus itself (the first
    three words of docs 0-4) so the whole retrieval surface — inverted
    index, idf, length normalization, integer-quantized scores, tie-broken
    ranking — is SQL-reproducible."""
    from pyspark.sql import functions as F

    from .retrieval import bm25_topk

    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    qfix = docs.filter(
        (F.col("doc_id") < 5) & F.col("text").isNotNull()
    ).select(
        F.col("doc_id").cast("long").alias("query_id"),
        F.array_join(F.slice(F.split(norm, " "), 1, 3), " ").alias("query_text"),
    )
    return bm25_topk(docs, qfix, k=5)


_SQL_BM25_TOPK = r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
q AS (
  SELECT doc_id AS query_id,
         array_to_string((string_split(norm, ' '))[1:3], ' ') AS query_text
  FROM d WHERE doc_id < 5
),
tt AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM d),
t2 AS (SELECT doc_id, term FROM tt WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY term),
st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
qt AS (
  SELECT DISTINCT query_id, t.term
  FROM q, unnest(string_split(query_text, ' ')) AS t(term)
  WHERE t.term <> ''
),
c AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(floor(
           ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                               / (CAST(st.sum_dl AS DOUBLE) / st.n)))
           * 10000.0 + 0.5) AS BIGINT) AS contrib
  FROM qt JOIN tf USING (term) JOIN df USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id, st
),
s AS (
  SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_e4,
         CAST(count(*) AS INT) AS n_terms_hit
  FROM c GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_e4, n_terms_hit,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score_e4 DESC, doc_id) AS INT) AS rk
FROM s QUALIFY rk <= 5
"""


def q_quality_gram(spark, sf_dir):
    """Exact integer moment matrix for the trained quality classifier
    (CCNet-style target-distribution model): sparse upper triangle of
    G = sum_doc z z^T over z = [per-mille hashed-unigram freqs, 1, y],
    y = (lang = 'en').  This is the distributed HALF of the trainer — the
    driver-side 65x65 solve consumes exactly these integers, so a green
    row here certifies the training input end-to-end."""
    from pyspark.sql import functions as F

    from .classifier import moment_matrix

    docs = _docs(spark, sf_dir)
    y = F.when(F.col("lang") == F.lit("en"), F.lit(1)).otherwise(F.lit(0))
    return moment_matrix(docs, y)


_SQL_QUALITY_GRAM = r"""
WITH d AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE text IS NOT NULL
),
tt AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM d),
dims AS (
  SELECT doc_id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef', substr(md5(term), i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) % 64 AS INT) AS dim
  FROM tt WHERE term <> ''
),
cnt AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS c FROM dims GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM cnt GROUP BY 1),
xc AS (
  SELECT cnt.doc_id, dim,
         CAST(floor(1000.0 * c / dl + 0.5) AS BIGINT) AS val
  FROM cnt JOIN dl USING (doc_id)
),
z AS (
  SELECT doc_id, dim, val FROM xc WHERE val <> 0
  UNION ALL SELECT doc_id, 64, CAST(1 AS BIGINT) FROM d
  UNION ALL SELECT doc_id, 65, CAST(1 AS BIGINT) FROM d WHERE y = 1
)
SELECT a.dim AS i, b.dim AS j, CAST(sum(a.val * b.val) AS BIGINT) AS g
FROM z a JOIN z b ON a.doc_id = b.doc_id AND a.dim <= b.dim
GROUP BY 1, 2
"""


def q_quality_score_fixed(spark, sf_dir):
    """Map-only classifier scoring path with md5-derived integer weights
    (w_j = fold8(md5('w'||j)) % 2001 - 1000): score = sum over tokens of
    w[bucket(token)], exact integer arithmetic — verifies the hashed
    featurize + per-token lookup-sum kernel the trained model reuses."""
    from pyspark.sql import functions as F

    from .classifier import hashed_dims

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    warr = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w"), j.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % F.lit(2001)
        )
        - F.lit(1000),
    )
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        hashed_dims(F.col("text")).alias("dims"),
    )
    score = F.aggregate(
        F.col("dims"),
        F.lit(0).cast("long"),
        lambda acc, d: acc + F.element_at(warr, d + F.lit(1)),
    )
    return staged.select(
        "doc_id",
        score.alias("score_w"),
        F.size("dims").cast("int").alias("n_toks"),
    )


_SQL_QUALITY_SCORE_FIXED = r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
tt AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM d),
t2 AS (
  SELECT doc_id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef', substr(md5(term), i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) % 64 AS INT) AS dim
  FROM tt WHERE term <> ''
),
w AS (
  SELECT j,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5('w' || CAST(j AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) % 2001 - 1000 AS w
  FROM generate_series(0, 63) AS g(j)
),
s AS (
  SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS score_w,
         CAST(count(*) AS INT) AS n_toks
  FROM t2 JOIN w ON t2.dim = w.j GROUP BY doc_id
)
SELECT d.doc_id, coalesce(s.score_w, CAST(0 AS BIGINT)) AS score_w,
       coalesce(s.n_toks, 0) AS n_toks
FROM d LEFT JOIN s USING (doc_id)
"""


def q_dsir_select(spark, sf_dir):
    """DSIR (Xie et al. 2023) deterministic top-100: importance log-ratio
    of hashed unigram+bigram distributions, target = lang='en' docs, raw =
    whole corpus; integer micro-nat scores (lm_score quantization)."""
    from pyspark.sql import functions as F

    from .dsir import dsir_topk

    docs = _docs(spark, sf_dir)
    y = F.when(F.col("lang") == F.lit("en"), F.lit(1)).otherwise(F.lit(0))
    return dsir_topk(docs, y, k=100)


def q_dsir_sample(spark, sf_dir):
    """DSIR importance *resampling*: same weights, Gumbel top-100 with the
    md5-derived integer-quantized Gumbel key (exact integer sort key)."""
    from pyspark.sql import functions as F

    from .dsir import dsir_topk

    docs = _docs(spark, sf_dir)
    y = F.when(F.col("lang") == F.lit("en"), F.lit(1)).otherwise(F.lit(0))
    return dsir_topk(docs, y, k=100, sampled=True)


_DSIR_CORE = r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
  FROM documents WHERE text IS NOT NULL
),
tk AS (
  SELECT doc_id, is_t,
         list_filter(string_split(norm, ' '), t -> t <> '') AS toks
  FROM d
),
g AS (
  SELECT doc_id, is_t,
         unnest(list_concat(toks,
           list_transform(generate_series(2, len(toks)),
                          i -> toks[i-1] || ' ' || toks[i]))) AS gram
  FROM tk
),
gc AS (
  SELECT doc_id, is_t,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) % 64 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM g GROUP BY 1, 2, 3
),
dist AS (
  SELECT bucket, CAST(sum(c) AS BIGINT) AS r_c,
         CAST(sum(CASE WHEN is_t = 1 THEN c ELSE 0 END) AS BIGINT) AS t_c
  FROM gc GROUP BY 1
),
ratio AS (
  SELECT bucket,
         CAST(floor((ln((t_c + 1) / CAST(sum(t_c) OVER () + 64 AS DOUBLE))
                   - ln((r_c + 1) / CAST(sum(r_c) OVER () + 64 AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS ratio_e6
  FROM dist
),
s AS (
  SELECT doc_id, CAST(sum(c * ratio_e6) AS BIGINT) AS score_e6
  FROM gc JOIN ratio USING (bucket) GROUP BY 1
)
"""

_SQL_DSIR_SELECT = _DSIR_CORE + r"""
SELECT doc_id, score_e6, score_e6 AS key_e6,
       CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS INT) AS rk
FROM s QUALIFY rk <= 100
"""

_SQL_DSIR_SAMPLE = _DSIR_CORE + r""",
keyed AS (
  SELECT doc_id, score_e6,
         score_e6 + CAST(floor(-ln(-ln(
           (list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, 8),
                i -> CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
              (a, b) -> a * 16 + b) + 0.5) / 4294967296.0))
           * 1000000.0 + 0.5) AS BIGINT) AS key_e6
  FROM s
)
SELECT doc_id, score_e6, key_e6,
       CAST(row_number() OVER (ORDER BY key_e6 DESC, doc_id) AS INT) AS rk
FROM keyed QUALIFY rk <= 100
"""


def q_lm_score(spark, sf_dir):
    """Corpus-bigram LM quality score (CCNet perplexity-filter stand-in):
    avg add-one-smoothed bigram log-prob per doc, integer-quantized mean."""
    from .textstats import bigram_logprob_score

    return bigram_logprob_score(_docs(spark, sf_dir))


_SQL_LM_SCORE = r"""
WITH w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, w[u.i + 1] AS w1, w[u.i + 2] AS w2
  FROM w, unnest(generate_series(0, len(w) - 2)) AS u(i)
  WHERE len(w) >= 2
),
bgc AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY w1, w2),
ug AS (SELECT unnest(w) AS w1 FROM w),
ugc AS (SELECT w1, count(*) AS c_ug FROM ug WHERE w1 <> '' GROUP BY w1),
v AS (SELECT count(DISTINCT w1) AS v FROM ug WHERE w1 <> ''),
lp AS (
  SELECT doc_id,
         CAST(round(ln((c_bg + 1) / CAST(c_ug + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp_micro
  FROM bg JOIN bgc USING (w1, w2) JOIN ugc USING (w1), v
)
SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
       -- exact integer micro-nat mean, ties away from zero (mirrors
       -- textstats.bigram_logprob_score: positive-magnitude half-up via
       -- integer floor division — no double-rounding boundary)
       CAST(-((2 * -sum(lp_micro) + count(*)) // (2 * count(*))) AS BIGINT)
         AS avg_lp_micro
FROM lp GROUP BY doc_id
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + dedup (web corpora's first dedup layer):
    deterministic messy URLs synthesized per doc (mixed-case host, default
    port, trailing slash, tracking params, fragment), canonicalized with
    pure Column regex/HOF math, grouped.  Oracle reproduces synthesis AND
    canonicalization."""
    from pyspark.sql import functions as F

    from ..functions import canonical_url

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    url = F.concat(
        F.lit("HTTPS://Src"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="), (F.col("doc_id") % 25).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&ref=home")).otherwise(F.lit("")),
        F.lit("#sec"),
    )
    return (
        d.select("doc_id", canonical_url(url).alias("canon"))
        .groupBy("canon")
        .agg(F.count(F.lit(1)).cast("int").alias("n_urls"),
             F.min("doc_id").alias("first_doc"))
    )


_SQL_URL_DEDUP = r"""
WITH g AS (
  SELECT doc_id,
         'HTTPS://Src' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
         || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
         || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || '?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '&ref=home' ELSE '' END
         || '#sec' AS url
  FROM documents
),
c AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS base FROM g
),
h AS (
  SELECT doc_id, base,
         regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS head0
  FROM c
),
parts AS (
  SELECT doc_id,
         regexp_replace(lower(head0), ':80$|:443$', '') AS head,
         substr(base, length(head0) + 1) AS rest
  FROM h
),
canon AS (
  SELECT doc_id,
         head
         || regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '(.)/$', '\1')
         || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon
  FROM (
    SELECT doc_id, head, rest,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))),
             '&') AS qs
    FROM parts
  )
)
SELECT canon, CAST(count(*) AS INT) AS n_urls, min(doc_id) AS first_doc
FROM canon GROUP BY canon
"""


def q_chunking(spark, sf_dir):
    """Overlapping context-window chunking: 24-word windows, stride 16."""
    from .textstats import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_words=24, stride=16)


_SQL_CHUNKING = r"""
WITH w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
n AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) <= 24 THEN 1
              ELSE CAST(ceil((len(w) - 24) / 16.0) AS INT) + 1 END AS n_chunks
  FROM w
)
SELECT doc_id, u.i AS chunk_idx, u.i * 16 AS start_word,
       CAST(len(list_slice(w, u.i * 16 + 1, u.i * 16 + 24)) AS INT) AS n_words,
       array_to_string(list_slice(w, u.i * 16 + 1, u.i * 16 + 24), ' ') AS chunk_text
FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)
"""


def q_corpus_report(spark, sf_dir):
    """One-row corpus health report: doc/vocab counts, exact-dup rate,
    language mix entropy (integer micro-nats), mean quality flags - the
    dashboard numbers a curation run prints. All-exact arithmetic."""
    from pyspark.sql import functions as F

    from .dedup import normalize_text

    d = _docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    words = F.split(norm, " ")
    per_doc = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("fp"),
        F.size(words).alias("n_words"),
        "lang",
    )
    # ONE pass for every doc-granular statistic: the two countDistincts ride
    # the same aggregate (Catalyst's Expand rewrite), so the base table is
    # scanned 3× total (docs stats / lang counts / word vocab — the exact
    # multi-granularity floor), not 5×, and each final one-row reduce sees
    # only per-partition partials (1000 executors → 1000 rows), which is
    # scale-free.
    from pyspark.sql import Window

    combined = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_words").alias("total_words"),
        F.min("n_words").alias("min_words"),
        F.max("n_words").alias("max_words"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
    )
    vocab = d.select(F.explode(words).alias("w")).filter(F.col("w") != "").agg(
        F.countDistinct("w").alias("vocab")
    )
    # language-mix entropy in integer micro-nats: sum over langs of
    # -c/N * ln(c/N), each term quantized before the (exact) integer sum;
    # N = sum of the lang counts themselves via an all-rows window (n_langs
    # rows post-shuffle), so lang_counts is derived exactly once
    lang_counts = per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    nn = F.sum("c").over(Window.partitionBy()).cast("double")
    ent = (
        lang_counts.select(
            F.round(
                -(F.col("c") / nn) * F.log(F.col("c") / nn) * 1_000_000
            ).cast("long").alias("t")
        )
        .agg(F.sum("t").alias("lang_entropy_micro"))
    )
    return (
        combined.crossJoin(vocab)
        .crossJoin(ent)
        .select(
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
            "total_words",
            "min_words",
            "max_words",
            "vocab",
            "n_langs",
            "lang_entropy_micro",
        )
    )


_SQL_CORPUS_REPORT = r"""
WITH per_doc AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_words,
         lang
  FROM documents
),
agg AS (
  SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         CAST(min(n_words) AS INT) AS min_words,
         CAST(max(n_words) AS INT) AS max_words,
         CAST(count(DISTINCT lang) AS INT) AS n_langs
  FROM per_doc
),
vocab AS (
  SELECT count(DISTINCT w) AS vocab
  FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
lc AS (SELECT lang, count(*) AS c FROM per_doc GROUP BY lang),
ent AS (
  SELECT CAST(sum(CAST(round(-(c / CAST(agg.n_docs AS DOUBLE))
                             * ln(c / CAST(agg.n_docs AS DOUBLE)) * 1000000) AS BIGINT))
              AS BIGINT) AS lang_entropy_micro
  FROM lc, agg
)
SELECT agg.n_docs, agg.n_unique, agg.n_docs - agg.n_unique AS n_exact_dups,
       agg.total_words, agg.min_words, agg.max_words,
       vocab.vocab, agg.n_langs, ent.lang_entropy_micro
FROM agg, vocab, ent
"""


def q_semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination: train vectors within cosine>=0.35 of
    any held-out eval vector (vec_id%10==7) -> (vec_id, n_hits,
    best_eval_id, best_cosine).  Eval side broadcast (benchmarks are small
    by nature); no shuffle of the big side; deterministic
    (cosine desc, eval_id asc) best-match tie-break."""
    from .similarity import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_decontaminate(emb)


_SQL_SEMANTIC_DECONTAM = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
),
ev AS (SELECT vec_id AS eval_id, embedding AS e FROM base WHERE vec_id % 10 = 7),
tr AS (SELECT vec_id, embedding FROM base WHERE vec_id % 10 <> 7),
scored AS (
  SELECT tr.vec_id, ev.eval_id,
         round(
           list_sum(list_transform(generate_series(1, len(tr.embedding)),
                    i -> CAST(tr.embedding[i] AS DOUBLE) * CAST(ev.e[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(tr.embedding, x -> CAST(x AS DOUBLE) * x)))
              * sqrt(list_sum(list_transform(ev.e, x -> CAST(x AS DOUBLE) * x)))),
           4) AS cos
  FROM tr, ev
)
SELECT vec_id, CAST(count(*) AS INT) AS n_hits,
       min_by(eval_id, CAST(round(-cos * 10000) AS BIGINT) * 10000000 + eval_id)
         AS best_eval_id,
       max(cos) AS best_cosine
FROM scored WHERE cos >= 0.35
GROUP BY vec_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 5-gram with a
    deterministic held-out eval slice (doc_id % 10 == 7) of the corpus."""
    from pyspark.sql import functions as F

    from .decontam import decontaminate

    d = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 10 == 7
    return decontaminate(d.filter(~is_eval), d.filter(is_eval), n=5)


def q_url_filter(spark, sf_dir):
    """URL/domain blocklist curation: synthesized per-doc URLs (rotating
    www./cdn. subdomains, 4 TLDs, occasional banned path keyword) filtered
    against a blocklist derived from a slice of sources — subdomain
    matching via the suffix-explode equi-join, oracle-checked end to end."""
    from pyspark.sql import functions as F

    from .urlfilter import url_filter

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    sub = F.element_at(
        F.array(F.lit("www."), F.lit("cdn."), F.lit("")),
        (F.pmod(did, 3) + 1).cast("int"),
    )
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (F.pmod(did, 4) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), sub, F.lower(F.col("source")), F.lit(".example."), tld,
        F.lit("/p/"), did.cast("string"),
        F.when(did % 11 == 5, F.lit("/casino-bonus")).otherwise(F.lit("/article")),
    )
    docs = d.select("doc_id", url.alias("url"))
    block = (
        d.filter(did % 9 == 4)
        .select(
            F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias("domain")
        )
        .distinct()
    )
    return url_filter(docs, block, keywords=["casino", "xxx"])


_SQL_URL_FILTER = """
WITH d AS (
  SELECT doc_id,
         'https://'
         || list_extract(list_value('www.', 'cdn.', ''), CAST(doc_id % 3 AS INT) + 1)
         || lower(source) || '.example.'
         || list_extract(list_value('com', 'org', 'net', 'io'), CAST(doc_id % 4 AS INT) + 1)
         || '/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 11 = 5 THEN '/casino-bonus' ELSE '/article' END AS url
  FROM documents
),
b AS (
  SELECT DISTINCT lower(source) || '.example.com' AS domain
  FROM documents WHERE doc_id % 9 = 4
),
h AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
                        ':[0-9]+$', '') AS host,
         CASE WHEN contains(lower(url), 'casino') THEN 'casino'
              WHEN contains(lower(url), 'xxx') THEN 'xxx' END AS keyword_hit
  FROM d
),
sfx AS (
  SELECT doc_id, u.s AS suffix
  FROM (SELECT doc_id, string_split(host, '.') AS parts FROM h) t,
       unnest(list_transform(generate_series(0, len(parts) - 1),
              i -> array_to_string(list_slice(parts, i + 1, len(parts)), '.'))) AS u(s)
),
blk AS (
  SELECT doc_id, arg_max(suffix, length(suffix)) AS blocked_domain
  FROM sfx JOIN b ON sfx.suffix = b.domain
  GROUP BY doc_id
)
SELECT h.doc_id, h.url, h.host, blk.blocked_domain, h.keyword_hit,
       (blk.blocked_domain IS NULL AND h.keyword_hit IS NULL) AS keep
FROM h LEFT JOIN blk ON h.doc_id = blk.doc_id
"""


def q_bpe_vocab(spark, sf_dir):
    """Distributed BPE vocabulary induction: 30 merges learned from the
    documents corpus (one corpus-scale word-freq agg, then an iterative
    merge loop over the bounded vocab table with driver-scalar arg-max
    probes).  Oracle-checked (r5): with a fixed merge budget the loop
    unrolls into a DuckDB chain of materialized (best-pair, fold) CTEs
    (bpe.vocab_oracle_sql) — plus the md5 pin and a pure-Python
    reference-trainer parity test."""
    from .bpe import bpe_merge_table

    return bpe_merge_table(_docs(spark, sf_dir), num_merges=30, fast=True)


def q_bpe_apply(spark, sf_dir):
    """Train-then-apply BPE round trip: learn 30 merges from the corpus,
    then segment every document with them (per-doc word/token counts +
    leading-token sample).  Oracle-checked (r5): the same unrolled CTE
    chain carries the final fold state, segmenting every distinct word and
    re-attaching per doc (bpe.apply_oracle_sql); apply-phase parity vs a
    pure-Python reference in tests/test_bpe.py."""
    from .bpe import bpe_segment, bpe_train_fast

    d = _docs(spark, sf_dir)
    merges = bpe_train_fast(d, num_merges=30)
    return bpe_segment(d, [(a, b) for _, a, b, _ in merges])


def q_text_norm(spark, sf_dir):
    """Unicode normalization over deterministically corrupted text: docs are
    wrapped/injected with mojibake quotes, accents, ellipsis, NBSP,
    zero-width and control bytes by doc_id%4, then repaired.  The oracle
    rebuilds corruption via chr() codepoints (encoding-unambiguous) and
    applies the identical replace chain."""
    from pyspark.sql import functions as F

    from .textnorm import text_normalize

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    lq = "â€œ"          # mojibake “
    rq = "â€\x9d"            # mojibake ” (raw U+009D tail)
    ell = "â€¦"         # mojibake …
    cafe = "CafÃ©"           # mojibake é
    corrupted = (
        F.when(did % 4 == 0, F.concat(F.lit(lq), F.col("text"), F.lit(rq)))
        .when(did % 4 == 1, F.concat(F.col("text"),
                                     F.lit(" " + ell + " ​")))
        .when(did % 4 == 2, F.concat(F.lit(cafe + "\x01 "), F.col("text")))
        .otherwise(F.col("text"))
    )
    return text_normalize(d.select("doc_id", corrupted.alias("text")))


def _text_norm_sql() -> str:
    from .textnorm import normalize_unicode_sql

    lq = "chr(226)||chr(8364)||chr(339)"
    rq = "chr(226)||chr(8364)||chr(157)"
    ell = "chr(226)||chr(8364)||chr(166)"
    cafe = "'Caf'||chr(195)||chr(169)"
    return f"""
WITH c AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN {lq} || text || {rq}
           WHEN 1 THEN text || ' ' || {ell} || chr(160) || chr(8203)
           WHEN 2 THEN {cafe} || chr(1) || ' ' || text
           ELSE text
         END AS text
  FROM documents
),
n AS (
  SELECT doc_id, text, {normalize_unicode_sql('text')} AS text_norm FROM c
)
SELECT doc_id, text_norm, text_norm IS DISTINCT FROM text AS changed FROM n
"""


def q_bloom_decontam(spark, sf_dir):
    """Bloom-prefiltered decontamination: same report as `decontaminate`
    (same oracle) but the 100-TB plan shape — in-row gram dedup (map-only),
    broadcast Bloom prefilter on two xxhash64 lanes, exact confirm join on
    the surviving sliver.  fpp deliberately loose so false positives occur
    at sf0.01 and the confirm join is exercised, not vacuous."""
    from pyspark.sql import functions as F

    from .decontam import bloom_decontaminate

    d = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 10 == 7
    return bloom_decontaminate(
        d.filter(~is_eval), d.filter(is_eval), n=5, fpp=0.05
    )


_SQL_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
dg AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, u.i + 1, u.i + 5), ' ') AS gram
  FROM w, unnest(generate_series(0, len(w) - 5)) AS u(i)
  WHERE len(w) >= 5
),
eval_grams AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 10 = 7),
train AS (SELECT doc_id, gram FROM dg WHERE doc_id % 10 <> 7),
tg AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM train t JOIN eval_grams e USING (gram)
  GROUP BY t.doc_id
)
SELECT h.doc_id, CAST(h.n_hits AS INT) AS n_hits, CAST(tg.n_grams AS INT) AS n_grams,
       CAST((h.n_hits * 10000) // tg.n_grams AS INT) AS hit_bp
FROM hits h JOIN tg USING (doc_id)
"""


def q_decontam_report(spark, sf_dir):
    """Composed contamination report: per train doc, the n-gram signal
    (decontaminate: shared 5-grams with the eval slice doc_id%10==7) FULL
    OUTER the semantic signal (semantic_decontaminate over the doc's
    embedding, vec_id == doc_id) — (doc_id, ngram_hits, semantic_hits,
    best_cosine, flagged).  The oracle nests both queries' SQL as CTEs, so
    the composition itself is hash-checked (web_pipeline pattern)."""
    from pyspark.sql import functions as F

    from .decontam import decontaminate
    from .similarity import semantic_decontaminate

    d = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 10 == 7
    ng = decontaminate(d.filter(~is_eval), d.filter(is_eval), n=5).select(
        "doc_id", F.col("n_hits").alias("ngram_hits")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sem = semantic_decontaminate(emb).select(
        F.col("vec_id").alias("doc_id"),
        F.col("n_hits").alias("semantic_hits"),
        "best_cosine",
    )
    return (
        ng.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("ngram_hits", F.lit(0)).alias("ngram_hits"),
            F.coalesce("semantic_hits", F.lit(0)).alias("semantic_hits"),
            F.coalesce("best_cosine", F.lit(0.0)).alias("best_cosine"),
            (F.col("ngram_hits").isNotNull()
             & F.col("semantic_hits").isNotNull()).alias("both_signals"),
        )
    )


def _decontam_report_sql() -> str:
    return f"""
WITH ng_base AS ({_SQL_DECONTAMINATE}),
sem_base AS ({_SQL_SEMANTIC_DECONTAM}),
ng AS (SELECT doc_id, n_hits AS ngram_hits FROM ng_base),
sem AS (SELECT vec_id AS doc_id, n_hits AS semantic_hits, best_cosine FROM sem_base)
SELECT coalesce(ng.doc_id, sem.doc_id) AS doc_id,
       coalesce(ng.ngram_hits, 0) AS ngram_hits,
       coalesce(sem.semantic_hits, 0) AS semantic_hits,
       coalesce(sem.best_cosine, 0.0) AS best_cosine,
       (ng.doc_id IS NOT NULL AND sem.doc_id IS NOT NULL) AS both_signals
FROM ng FULL OUTER JOIN sem ON ng.doc_id = sem.doc_id
"""


def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing into 64-token contexts: per-doc
    stream placement via a distributed prefix sum (no global window)."""
    from .packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), window=64)


_SQL_SEQ_PACK = r"""
WITH t AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord_key,
         CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = '' THEN 0
              ELSE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
         END AS n_tok
  FROM documents
),
p AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY ord_key
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM t WHERE n_tok > 0
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok, start_tok,
       CAST(start_tok // 64 AS INT) AS first_pack,
       CAST((start_tok + n_tok - 1) // 64 AS INT) AS last_pack,
       CAST((start_tok + n_tok - 1) // 64 - start_tok // 64 + 1 AS INT) AS n_packs
FROM p
"""


def q_snapshot_dedup(spark, sf_dir):
    """Incremental crawl dedup: the deterministic 'new snapshot' slice
    (doc_id % 5 == 4) flagged against the existing corpus (the rest) by
    exact fingerprint and MinHash-band collision."""
    from pyspark.sql import functions as F

    from .dedup import snapshot_dedup

    d = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % 5 == 4
    return snapshot_dedup(d.filter(is_new), d.filter(~is_new), bands=8, shingle_n=3)


def _snapshot_dedup_sql(bands: int = 8) -> str:
    """Signature CTE generated from the SAME permutation constants as the
    Spark plan (dedup.minhash_perm_constants) — no drift possible."""
    from .dedup import MINHASH_P, minhash_perm_constants

    values = ", ".join(
        f"({b}, {a}, {c})" for b, (a, c) in enumerate(minhash_perm_constants(bands))
    )
    return f"""
{_SHINGLES_CTE},
hs AS (
  SELECT doc_id,
         list_transform(sh, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, 15),
               i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b) % {MINHASH_P}) AS hs
  FROM s WHERE len(sh) > 0
),
consts(band, ca, cc) AS (VALUES {values}),
sig AS (
  SELECT doc_id, band,
         list_min(list_transform(hs, h -> (ca * h + cc) % {MINHASH_P})) AS sig
  FROM hs, consts
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
new_docs AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 4),
old_fp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 4),
exact AS (SELECT doc_id FROM new_docs WHERE fp IN (SELECT fp FROM old_fp)),
old_sig AS (SELECT DISTINCT band, sig FROM sig WHERE doc_id % 5 <> 4),
near AS (
  SELECT DISTINCT g.doc_id
  FROM sig g JOIN old_sig o USING (band, sig)
  WHERE g.doc_id % 5 = 4
)
SELECT n.doc_id,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup,
       CAST(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS near_dup,
       CAST(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL THEN 1 ELSE 0 END AS INT)
         AS keep
FROM new_docs n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near nr USING (doc_id)
"""


def q_snapshot_minhash(spark, sf_dir):
    """Incremental near-dup with attribution: a derived 'new snapshot'
    (odd doc_ids; every 3rd odd doc re-fetches the previous even doc's text
    verbatim, every 5th appends a tail to it) linked back to the old-corpus
    doc it duplicates by MinHash band agreement (>= 2 agreeing bands with
    the SAME old doc confirms; ties -> smallest old doc_id)."""
    from pyspark.sql import functions as F

    from .dedup import snapshot_minhash_attrib

    d = _docs(spark, sf_dir).select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    prev = old.select(F.col("doc_id").alias("pid"), F.col("text").alias("ptext"))
    new = odd.join(prev, odd["doc_id"] - 1 == prev["pid"], "left").select(
        odd["doc_id"].alias("doc_id"),
        F.when(odd["doc_id"] % 3 == 0, F.col("ptext"))
        .when(
            odd["doc_id"] % 5 == 0,
            F.concat(
                F.coalesce(F.col("ptext"), odd["text"]),
                F.lit(" zz yy xx ww vv"),
            ),
        )
        .otherwise(odd["text"])
        .alias("text"),
    )
    return snapshot_minhash_attrib(
        old, new, bands=8, shingle_n=3, max_bucket_size=64, confirm_bands=2
    )


def _snapshot_minhash_sql(
    bands: int = 8, max_bucket_size: int = 64, confirm_bands: int = 2
) -> str:
    """Signature CTEs generated from the SAME permutation constants as the
    Spark plan (dedup.minhash_perm_constants) — no drift possible."""
    from .dedup import MINHASH_P, minhash_perm_constants

    values = ", ".join(
        f"({b}, {a}, {c})" for b, (a, c) in enumerate(minhash_perm_constants(bands))
    )
    return f"""
WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
odd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
new AS (
  SELECT o.doc_id,
         CASE WHEN o.doc_id % 3 = 0 THEN p.text
              WHEN o.doc_id % 5 = 0 THEN coalesce(p.text, o.text) || ' zz yy xx ww vv'
              ELSE o.text END AS text
  FROM odd o LEFT JOIN old p ON p.doc_id = o.doc_id - 1
),
u AS (
  SELECT 0 AS is_new, doc_id, text FROM old
  UNION ALL
  SELECT 1, doc_id, text FROM new
),
s AS (
  SELECT is_new, doc_id,
         list_distinct(list_transform(generate_series(0, len(words) - 3),
                       i -> array_to_string(list_slice(words, i + 1, i + 3), ' '))) AS sh
  FROM (SELECT is_new, doc_id, string_split(text, ' ') AS words FROM u)
  WHERE len(words) >= 3
),
hs AS (
  SELECT is_new, doc_id,
         list_transform(sh, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, 15),
               i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b) % {MINHASH_P}) AS hs
  FROM s WHERE len(sh) > 0
),
consts(band, ca, cc) AS (VALUES {values}),
sig AS (
  SELECT is_new, doc_id, band,
         list_min(list_transform(hs, h -> (ca * h + cc) % {MINHASH_P})) AS sig
  FROM hs, consts
),
osig AS (
  SELECT band, sig, doc_id AS old_id FROM sig WHERE is_new = 0
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {max_bucket_size}
),
per AS (
  SELECT n.doc_id, o.old_id, count(*) AS bm
  FROM (SELECT doc_id, band, sig FROM sig WHERE is_new = 1) n
  JOIN osig o USING (band, sig)
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, bm, old_id
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm DESC, old_id)
               AS rn FROM per)
  WHERE rn = 1
)
SELECT n.doc_id,
       CAST(coalesce(b.bm, 0) AS INT) AS band_matches,
       CASE WHEN b.bm >= {confirm_bands} THEN b.old_id END AS matched_old,
       coalesce(b.bm, 0) < {confirm_bands} AS keep
FROM new n LEFT JOIN best b USING (doc_id)
"""


def _link_pages(d):
    """Synthesized link-only crawl pages shared by the link-graph queries:
    every doc links cross-host to src((id*7+3)%20) with anchor 'see {id}';
    every 4th also to src((id*13+1)%20) ('also {id}'); a relative anchor
    ('rel {id}') and — every 5th doc — a self-host anchor ('self') are
    injected.  Hosts sanitized to [a-z0-9.-] so hostile source names
    round-trip the URL parse identically in both engines."""
    from pyspark.sql import functions as F

    src = F.regexp_replace(
        F.lower(F.coalesce(F.col("source"), F.lit("unknown"))),
        "[^a-z0-9.-]", "-",
    )
    did = F.col("doc_id").cast("string")
    dst1 = (F.col("doc_id") * 7 + 3) % 20
    dst2 = (F.col("doc_id") * 13 + 1) % 20
    html = F.concat(
        F.lit('<a href="https://src'), dst1.cast("string"),
        F.lit('/p">see '), did, F.lit("</a>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit('<a href="https://src'), dst2.cast("string"),
                     F.lit('/q">also '), did, F.lit("</a>")),
        ).otherwise(F.lit("")),
        F.lit('<a href="/rel">rel '), did, F.lit("</a>"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit('<a href="https://'), src, F.lit('/self">self</a>')),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", src.alias("src_host"), html.alias("html"))


def q_host_rank(spark, sf_dir):
    """Link-graph centrality over a derived crawl: anchor extraction from
    synthesized link-only pages (regex leg), host-graph reduction, and
    3-iteration integer PageRank (ops/linkgraph.py).  Relative and
    self-host anchors must be dropped."""
    from .linkgraph import extract_links, host_graph, pagerank_hosts

    pages = _link_pages(_docs(spark, sf_dir))
    # src_host rides the explode (carry=) — no join back to pages, so
    # pages -> edges stays a single scan stage
    links = extract_links(pages, carry=("src_host",))
    edges = host_graph(links)
    return pagerank_hosts(edges, iters=3, damping_pct=85)


def q_anchor_terms(spark, sf_dir):
    """Off-page relevance signal: top-3 anchor-text terms pointing AT each
    host (relative hrefs drop at the empty-host gate; self-host anchors
    legitimately count)."""
    from .linkgraph import anchor_terms, extract_links

    return anchor_terms(extract_links(_link_pages(_docs(spark, sf_dir))), k=3)


_SQL_ANCHOR_TERMS = """
WITH d AS (
  SELECT doc_id,
         regexp_replace(lower(coalesce(source, 'unknown')),
                        '[^a-z0-9.-]', '-', 'g') AS src
  FROM documents
),
l AS (
  SELECT 'src' || CAST((doc_id*7+3) % 20 AS VARCHAR) AS dst_host,
         t.term
  FROM d, unnest(['see', CAST(doc_id AS VARCHAR)]) AS t(term)
  UNION ALL
  SELECT 'src' || CAST((doc_id*13+1) % 20 AS VARCHAR), t.term
  FROM d, unnest(['also', CAST(doc_id AS VARCHAR)]) AS t(term)
  WHERE doc_id % 4 = 0
  UNION ALL
  SELECT src, 'self' FROM d WHERE doc_id % 5 = 0
),
g AS (
  SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n
  FROM l GROUP BY 1, 2
)
SELECT dst_host, term, n,
       CAST(row_number() OVER (PARTITION BY dst_host ORDER BY n DESC, term)
            AS INT) AS rk
FROM g
QUALIFY rk <= 3
"""


def _host_rank_sql(iters: int = 3, damping_pct: int = 85) -> str:
    """Oracle: the link relation rebuilt directly from the synthesis rule
    (the injected relative/self anchors drop by construction), then the
    integer PageRank iterations UNROLLED as a CTE chain — all int64 `//`
    arithmetic, so it replays the engine bit-for-bit."""
    base = (100 - damping_pct) * 1_000_000 // 100
    ctes = ["r0 AS (SELECT h AS host, CAST(1000000 AS BIGINT) AS r FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(f"""c{k} AS (
  SELECT e.dst_host AS host,
         CAST(sum(e.n_links * (r{k-1}.r // o.outw)) AS BIGINT) AS inflow
  FROM e JOIN r{k-1} ON e.src_host = r{k-1}.host
  JOIN outw o ON e.src_host = o.src_host
  GROUP BY 1
)""")
        ctes.append(f"""r{k} AS (
  SELECT h.h AS host,
         CAST({base} + (coalesce(c{k}.inflow, 0) * {damping_pct}) // 100
              AS BIGINT) AS r
  FROM hosts h LEFT JOIN c{k} ON h.h = c{k}.host
)""")
    chain = ",\n".join(ctes)
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(lower(coalesce(source, 'unknown')),
                        '[^a-z0-9.-]', '-', 'g') AS src
  FROM documents
),
l AS (
  SELECT src AS src_host, 'src' || CAST((doc_id*7+3) % 20 AS VARCHAR) AS dst
  FROM d
  UNION ALL
  SELECT src, 'src' || CAST((doc_id*13+1) % 20 AS VARCHAR)
  FROM d WHERE doc_id % 4 = 0
  UNION ALL
  SELECT src, src FROM d WHERE doc_id % 5 = 0
),
e AS (
  SELECT src_host, dst AS dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM l WHERE dst <> src_host GROUP BY 1, 2
),
hosts AS (
  SELECT DISTINCT h
  FROM (SELECT src_host AS h FROM e UNION ALL SELECT dst_host FROM e)
),
outw AS (
  SELECT src_host, CAST(sum(n_links) AS BIGINT) AS outw FROM e GROUP BY 1
),
{chain}
SELECT host, r AS rank_micro FROM r{iters}
"""


def q_robots_filter(spark, sf_dir):
    """RFC 9309 crawl-policy gate (ops/robots.py): per-host robots.txt
    synthesized with host-length traits (a ``*`` group with a longest-match
    allow/deny pair plus — on even-length hosts — a ``/*.pdf$`` wildcard
    rule; a chugbot/altbot group on length%3==0 hosts), then every doc's
    URL judged for agent 'chugbot'.  Exercises the full parse (comments,
    case, empty Disallow, consecutive UA lines), exclusive group selection
    (* never merges into chugbot), longest-match + allow-wins-tie, */$
    patterns, and the query string in the match target."""
    from pyspark.sql import functions as F

    from .robots import robots_filter

    d = _docs(spark, sf_dir)
    src0 = F.regexp_replace(
        F.lower(F.coalesce(F.col("source"), F.lit("unknown"))), "[^a-z0-9.-]", "-"
    )
    src = F.when(src0 == "", F.lit("unknown")).otherwise(src0)
    m9 = F.pmod(F.col("doc_id"), 9)
    path = (
        F.when(m9 == 0, F.lit("/private/ok/r"))
        .when(m9 == 1, F.lit("/private/leak"))
        .when(m9 == 2, F.lit("/a/file.pdf"))
        .when(m9 == 3, F.lit("/a/file.pdfx"))
        .otherwise(
            F.concat(
                F.lit("/p/"), F.pmod(F.col("doc_id"), 25).cast("string"),
                F.lit("?q="), F.pmod(F.col("doc_id"), 5).cast("string"),
            )
        )
    )
    urls = d.select(
        "doc_id", F.concat(F.lit("https://"), src, path).alias("url")
    )
    hosts = d.select(src.alias("host")).distinct()
    t3 = F.pmod(F.length("host"), 3)
    t2 = F.pmod(F.length("host"), 2)
    txt = F.concat(
        F.lit(
            "# policy\nUser-Agent: *\nDisallow: /private\n"
            "Allow: /private/ok\nDisallow:\n"
        ),
        F.when(t2 == 0, F.lit("Disallow: /*.pdf$\n")).otherwise(F.lit("")),
        F.when(
            t3 == 0,
            F.lit(
                "\nUser-agent: chugbot\nUser-agent: altbot\n"
                "Disallow: /p/1*\nAllow: /p/12\n"
            ),
        ).otherwise(F.lit("")),
    )
    robots = hosts.select("host", txt.alias("robots_txt"))
    return robots_filter(urls, robots, agent="chugbot")


_SQL_ROBOTS_FILTER = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN s = '' THEN 'unknown' ELSE s END AS host,
         CASE WHEN doc_id % 9 = 0 THEN '/private/ok/r'
              WHEN doc_id % 9 = 1 THEN '/private/leak'
              WHEN doc_id % 9 = 2 THEN '/a/file.pdf'
              WHEN doc_id % 9 = 3 THEN '/a/file.pdfx'
              ELSE '/p/' || CAST(doc_id % 25 AS VARCHAR)
                   || '?q=' || CAST(doc_id % 5 AS VARCHAR) END AS path
  FROM (SELECT doc_id,
               regexp_replace(lower(coalesce(source, 'unknown')),
                              '[^a-z0-9.-]', '-', 'g') AS s
        FROM documents)
),
u AS (
  SELECT doc_id, 'https://' || host || path AS url, host, path FROM d
),
t AS (
  SELECT host, length(host) % 3 AS t3, length(host) % 2 AS t2
  FROM (SELECT DISTINCT host FROM d)
),
-- the rule groups as the parse produces them, rebuilt from the synthesis
-- traits (the Spark side runs the real line parser over the same text)
bot AS (
  SELECT host, FALSE AS allow, '/p/1*' AS prefix FROM t WHERE t3 = 0
  UNION ALL
  SELECT host, TRUE, '/p/12' FROM t WHERE t3 = 0
),
sel AS (
  SELECT host, allow, prefix FROM bot
  UNION ALL
  SELECT s.host, s.allow, s.prefix
  FROM (
    SELECT host, FALSE AS allow, '/private' AS prefix FROM t
    UNION ALL SELECT host, TRUE, '/private/ok' FROM t
    UNION ALL SELECT host, FALSE, '/*.pdf$' FROM t WHERE t2 = 0
  ) s
  WHERE s.host NOT IN (SELECT host FROM bot)
),
r AS (
  SELECT host, allow, prefix, anchor, body,
         '^' || regexp_replace(
                  regexp_replace(body, '([.^$+?(){}\[\]\\|])', '\\\1', 'g'),
                  '\*', '.*', 'g')
             || CASE WHEN anchor THEN '$' ELSE '' END AS rx
  FROM (
    SELECT *,
           ends_with(prefix, '$') AS anchor,
           CASE WHEN ends_with(prefix, '$')
                THEN substr(prefix, 1, length(prefix) - 1)
                ELSE prefix END AS body
    FROM sel
  )
),
m AS (
  SELECT u.doc_id, r.allow, r.prefix
  FROM u JOIN r ON u.host = r.host
  WHERE CASE
          WHEN NOT contains(r.body, '*') AND NOT r.anchor
            THEN starts_with(u.path, r.body)
          WHEN NOT contains(r.body, '*') THEN u.path = r.body
          ELSE regexp_matches(u.path, r.rx)
        END
),
win AS (
  SELECT doc_id, allow, prefix
  FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id
          ORDER BY length(prefix) DESC, allow DESC, prefix) AS rn
        FROM m)
  WHERE rn = 1
)
SELECT u.doc_id, u.url, u.host, u.path,
       coalesce(w.allow, TRUE) AS allow,
       w.prefix AS rule_prefix
FROM u LEFT JOIN win w USING (doc_id)
"""


def q_charset_detect(spark, sf_dir):
    """WHATWG charset sniff + decode (ops/charset.py) over a synthesized
    byte corpus: 8 payload classes per doc_id%8 — plain ascii, utf-8
    multibyte, utf-8 BOM, utf-16le BOM, meta windows-1252 with a latin-1
    byte, invalid utf-8, header-declared iso-8859-1, and an XML
    declaration with the utf8 alias.  The Spark side runs the real
    detector on real bytes (hex-domain RFC 3629 regex, BOM prefixes, meta
    scan, precedence chain, BOM-stripped decode); the oracle states the
    ground truth per class."""
    from pyspark.sql import functions as F

    from .charset import decode_payload_text, detect_charset

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    did = F.col("doc_id").cast("string")
    m8 = F.pmod(F.col("doc_id"), 8)
    ascii_body = F.encode(F.concat(F.lit("doc "), did), "UTF-8")
    payload = (
        F.when(m8 == 0, ascii_body)
        .when(m8 == 1, F.encode(F.concat(F.lit("é doc "), did), "UTF-8"))
        .when(m8 == 2, F.concat(F.unhex(F.lit("EFBBBF")), ascii_body))
        .when(
            m8 == 3,
            F.concat(
                F.unhex(F.lit("FFFE")),
                F.encode(F.concat(F.lit("hi "), did), "UTF-16LE"),
            ),
        )
        .when(
            m8 == 4,
            F.concat(
                F.encode(F.lit('<meta charset="windows-1252">caf'), "UTF-8"),
                F.unhex(F.lit("E9")),
                F.encode(F.concat(F.lit(" "), did), "UTF-8"),
            ),
        )
        .when(m8 == 5, F.concat(F.unhex(F.lit("FF")), ascii_body))
        .when(m8 == 6, ascii_body)
        .otherwise(
            F.encode(
                F.concat(
                    F.lit('<?xml version="1.0" encoding="UTF8"?><d>'), did,
                    F.lit("</d>"),
                ),
                "UTF-8",
            )
        )
    )
    ct = F.when(m8 == 6, F.lit("text/html; charset=ISO-8859-1"))
    sniffed = detect_charset(
        d.select("doc_id", payload.alias("payload"), ct.alias("ct")),
        header_ct_col="ct",
    )
    return decode_payload_text(sniffed).select(
        "doc_id", "bom", "hdr_charset", "meta_charset", "utf8_valid",
        "charset", "bom_len", "text",
    )


_SQL_CHARSET_DETECT = """
SELECT doc_id,
       CASE WHEN m = 2 THEN 'utf-8'
            WHEN m = 3 THEN 'utf-16le' END AS bom,
       CASE WHEN m = 6 THEN 'iso-8859-1' END AS hdr_charset,
       CASE WHEN m = 4 THEN 'windows-1252'
            WHEN m = 7 THEN 'utf-8' END AS meta_charset,
       m IN (0, 1, 2, 6, 7) AS utf8_valid,
       CASE WHEN m IN (0, 1, 7) THEN 'utf-8'
            WHEN m = 2 THEN 'utf-8'
            WHEN m = 3 THEN 'utf-16le'
            WHEN m = 4 THEN 'windows-1252'
            WHEN m = 5 THEN 'windows-1252'
            WHEN m = 6 THEN 'iso-8859-1' END AS charset,
       CAST(CASE WHEN m = 2 THEN 3 WHEN m = 3 THEN 2 ELSE 0 END AS INT)
         AS bom_len,
       CASE WHEN m IN (0, 2, 6) THEN 'doc ' || i
            WHEN m = 1 THEN e_acute || ' doc ' || i
            WHEN m = 3 THEN 'hi ' || i
            WHEN m = 4 THEN '<meta charset="windows-1252">caf' || e_acute
                            || ' ' || i
            WHEN m = 5 THEN y_uml || 'doc ' || i
            ELSE '<?xml version="1.0" encoding="UTF8"?><d>' || i || '</d>'
       END AS text
FROM (SELECT doc_id, doc_id % 8 AS m, CAST(doc_id AS VARCHAR) AS i,
             chr(233) AS e_acute, chr(255) AS y_uml
      FROM documents)
"""


def q_split_assign(spark, sf_dir):
    """Deterministic hash-based train/val/test split (5%/5%/90%)."""
    from .dataflow import split_assign

    return split_assign(_docs(spark, sf_dir), val_frac=0.05, test_frac=0.05)


def _split_assign_sql(val_frac: float = 0.05, test_frac: float = 0.05) -> str:
    """Thresholds computed from the SAME Python constants as the Spark plan."""
    val_cut = int(val_frac * 2**32)
    test_cut = val_cut + int(test_frac * 2**32)
    return f"""
WITH d AS (
  SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS m FROM documents
),
u AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef', substr(m, i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) AS draw
  FROM d
)
SELECT doc_id,
       CASE WHEN draw < {val_cut} THEN 'val'
            WHEN draw < {test_cut} THEN 'test'
            ELSE 'train' END AS split
FROM u
"""


def q_split_grouped(spark, sf_dir):
    """Leakage-safe domain-grouped split: the draw hashes `source`, so all
    docs of a site share a split (near-dup pages can't straddle
    train/eval)."""
    from .dataflow import split_assign_grouped

    return split_assign_grouped(
        _docs(spark, sf_dir), group_col="source", val_frac=0.05, test_frac=0.05
    )


def _split_grouped_sql(val_frac: float = 0.05, test_frac: float = 0.05) -> str:
    val_cut = int(val_frac * 2**32)
    test_cut = val_cut + int(test_frac * 2**32)
    return f"""
WITH d AS (
  SELECT doc_id, source,
         md5('gsplit|' || coalesce(source, '\\N')) AS m
  FROM documents
),
u AS (
  SELECT doc_id, source,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 8),
             i -> CAST(strpos('0123456789abcdef', substr(m, i, 1)) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) AS draw
  FROM d
)
SELECT doc_id, source AS grp,
       CASE WHEN draw < {val_cut} THEN 'val'
            WHEN draw < {test_cut} THEN 'test'
            ELSE 'train' END AS split
FROM u
"""


def q_minhash_recall(spark, sf_dir):
    """LSH quality gauge for text dedup (the analogue of ann_recall): how
    many of the exact capped-Jaccard pairs at the threshold does the
    MinHash-LSH + verify path recover?  One row: n_exact, n_lsh, n_hit,
    recall_bp (basis points - integer, engine-exact)."""
    from pyspark.sql import functions as F

    from .dedup import minhash_jaccard_verified, ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    exact = ngram_jaccard_pairs(d, shingle_n=3, threshold=0.12,
                                max_shingle_df=64).select("doc_a", "doc_b")
    lsh = minhash_jaccard_verified(d, bands=8, shingle_n=3, threshold=0.12,
                                   max_bucket_size=64).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(hits)
        .select(
            F.col("n_exact").cast("int").alias("n_exact"),
            F.col("n_lsh").cast("int").alias("n_lsh"),
            F.col("n_hit").cast("int").alias("n_hit"),
            F.floor(F.col("n_hit") * 10000 / F.greatest(F.col("n_exact"), F.lit(1)))
            .cast("int").alias("recall_bp"),
        )
    )


def _minhash_recall_sql() -> str:
    return f"""
WITH exact_pairs AS ({_SQL_NGRAM_JACCARD}),
lsh_pairs AS ({_minhash_verified_sql(bands=8, max_bucket_size=64)}),
e AS (SELECT doc_a, doc_b FROM exact_pairs),
l AS (SELECT doc_a, doc_b FROM lsh_pairs),
h AS (SELECT count(*) AS n_hit FROM e JOIN l USING (doc_a, doc_b))
SELECT CAST((SELECT count(*) FROM e) AS INT) AS n_exact,
       CAST((SELECT count(*) FROM l) AS INT) AS n_lsh,
       CAST(h.n_hit AS INT) AS n_hit,
       CAST(floor(h.n_hit * 10000 / greatest((SELECT count(*) FROM e), 1)) AS INT) AS recall_bp
FROM h
"""


def q_budget_select(spark, sf_dir):
    """Token-budget corpus selection: quality-ranked prefix that fits in a
    12k-token budget, placed with the bucketed distributed prefix sum (no
    global sort)."""
    from .packing import budget_select

    return budget_select(_docs(spark, sf_dir), token_budget=12_000)


_SQL_BUDGET_SELECT = r"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words, length(text) AS nc,
         CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = '' THEN 0
              ELSE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
         END AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n_tok,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
         CAST(len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
           / len(words) AS stop_ratio,
         CAST(nc - (len(words) - 1) AS DOUBLE) / len(words) AS mean_wlen
  FROM w
),
s AS (
  SELECT doc_id, n_tok,
         CAST(floor((distinct_ratio * 0.5 + least(stop_ratio * 2, 1.0) * 0.3
               + least(mean_wlen / 8, 1.0) * 0.2) * 10000) AS INT) AS quality_bp
  FROM r
),
c AS (
  SELECT doc_id, quality_bp, n_tok,
         SUM(n_tok) OVER (ORDER BY quality_bp DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM s
)
SELECT doc_id, quality_bp, CAST(n_tok AS INT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= 12000
"""


def q_domain_budget(spark, sf_dir):
    """Per-domain token-budget selection: each source keeps its
    quality-ranked prefix that fits 500 tokens — the diversity-capped
    budget_select (two-level distributed prefix sum, one level deeper)."""
    from .packing import domain_budget_select

    return domain_budget_select(_docs(spark, sf_dir),
                                token_budget_per_domain=500)


_SQL_DOMAIN_BUDGET = r"""
WITH w AS (
  SELECT doc_id, coalesce(source, '') AS src,
         string_split(text, ' ') AS words, length(text) AS nc,
         CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = '' THEN 0
              ELSE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
         END AS n_tok
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, src, n_tok,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
         CAST(len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS DOUBLE)
           / len(words) AS stop_ratio,
         CAST(nc - (len(words) - 1) AS DOUBLE) / len(words) AS mean_wlen
  FROM w
),
s AS (
  SELECT doc_id, src, n_tok,
         CAST(floor((distinct_ratio * 0.5 + least(stop_ratio * 2, 1.0) * 0.3
               + least(mean_wlen / 8, 1.0) * 0.2) * 10000) AS INT) AS quality_bp
  FROM r
),
c AS (
  SELECT src, doc_id, quality_bp, n_tok,
         SUM(n_tok) OVER (PARTITION BY src ORDER BY quality_bp DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM s
)
SELECT src AS source, doc_id, quality_bp, CAST(n_tok AS INT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= 500
"""


def q_sample_exact_k(spark, sf_dir):
    """Deterministic exact-k uniform sample (md5 rank, TakeOrdered heap —
    no global sort)."""
    from .dataflow import sample_exact_k

    return sample_exact_k(_docs(spark, sf_dir), k=100, seed=3)


_SQL_SAMPLE_EXACT_K = """
SELECT doc_id, rk FROM (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|3|sample') AS rk
  FROM documents
) ORDER BY rk LIMIT 100
"""


def q_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff: old = docs with doc_id % 10 != 0, new = docs
    with doc_id % 7 != 0 and text edited when doc_id % 5 == 0 — classified
    added/removed/changed/unchanged by normalized-content fingerprint in one
    full-outer join of (doc_id, fp) projections."""
    from pyspark.sql import functions as F

    from .dedup import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 10 != 0)
    new = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" xmod")))
        .otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


_SQL_SNAPSHOT_DIFF = r"""
WITH o AS (
  SELECT doc_id,
         md5(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''))
           AS fp_old
  FROM documents WHERE doc_id % 10 <> 0
),
n AS (
  SELECT doc_id,
         md5(coalesce(trim(regexp_replace(lower(
           CASE WHEN doc_id % 5 = 0 THEN text || ' xmod' ELSE text END
         ), '\s+', ' ', 'g')), '')) AS fp_new
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN fp_old = fp_new THEN 'unchanged'
            ELSE 'changed' END AS status,
       fp_old, fp_new
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def q_media_dhash(spark, sf_dir):
    """Perceptual dHash per rendered media page (rows-only: pixel UDF has no
    SQL twin; deterministic and md5-pinned in tests/test_hash_pins.py)."""
    from pyspark.sql import functions as F

    from .media_features import media_dhash

    refs = _docs(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 0
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("synth://v1/L/"),
            ((F.col("doc_id") % 3) + 1).cast("string"),
            F.lit("/"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("media_ref"),
    )
    return media_dhash(refs, render_dpi=32)


def q_media_dhash_struct(spark, sf_dir):
    """Structural twin of media_dhash with a HARD oracle: the identical
    fixture and pipeline (payload-ref parse -> per-page render loop ->
    dHash), projecting everything except the pixel-derived bit VALUES —
    per-ref page fan-out, the 64-bit signature length, and error-row
    absence.  The banded-Hamming pair machinery downstream of the
    signature (hamming_pairs_from_bits) is oracle-green separately via
    simhash_pairs; the bit values themselves stay md5-pinned via
    media_dhash."""
    from pyspark.sql import functions as F

    out = q_media_dhash(spark, sf_dir)
    return out.select(
        "doc_id", "media_ref", "page",
        F.length("dhash").cast("int").alias("n_bits"),
        "error",
    )


_SQL_MEDIA_DHASH_STRUCT = """
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS ds, (doc_id % 3) + 1 AS n_pages,
         doc_id % 50 AS seed
  FROM documents WHERE doc_id % 2 = 0
)
SELECT ds AS doc_id,
       'synth://v1/L/' || CAST(n_pages AS VARCHAR) || '/'
         || CAST(seed AS VARCHAR) AS media_ref,
       CAST(u.p AS INT) AS page,
       CAST(64 AS INT) AS n_bits,
       CAST(NULL AS VARCHAR) AS error
FROM f, unnest(generate_series(0, n_pages - 1)) AS u(p)
"""


def ops_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "media_train": q_media_train,
        "aug_schedule": q_aug_schedule,
        "dedup_exact": q_dedup_exact,
        "url_dedup": q_url_dedup,
        "substring_spans": q_substring_spans,
        "substring_cut": q_substring_cut,
        "minhash_pairs": q_minhash_pairs,
        "minhash_verified": q_minhash_verified,
        "minhash_recall": q_minhash_recall,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_threshold": q_cosine_threshold,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "knn_exact": q_knn_exact,
        "embed_quantize": q_embed_quantize,
        "ann_recall": q_ann_recall,
        "semantic_pairs": q_semantic_pairs,
        "semantic_dedup": q_semantic_dedup,
        "events_window": q_events_window,
        "events_sliding": q_events_sliding,
        "props_extract": q_props_extract,
        "audio_features": q_audio_features,
        "audio_struct": q_audio_struct,
        "sessionize": q_sessionize,
        "sessionize_presplit": q_sessionize_presplit,
        "asof_join": q_asof_join,
        "stratified_sample": q_stratified_sample,
        "dedup_clusters": q_dedup_clusters,
        "cluster_histogram": q_cluster_histogram,
        "curation_keep": q_curation_keep,
        "curation_sampled": q_curation_sampled,
        "token_count": q_token_count,
        "chunking": q_chunking,
        "decontaminate": q_decontaminate,
        "semantic_decontam": q_semantic_decontam,
        "decontam_report": q_decontam_report,
        "bloom_decontam": q_bloom_decontam,
        "url_filter": q_url_filter,
        "web_pipeline": q_web_pipeline,
        "text_norm": q_text_norm,
        "bpe_vocab": q_bpe_vocab,
        "bpe_apply": q_bpe_apply,
        "seq_pack": q_seq_pack,
        "snapshot_dedup": q_snapshot_dedup,
        "snapshot_minhash": q_snapshot_minhash,
        "split_assign": q_split_assign,
        "split_grouped": q_split_grouped,
        "host_rank": q_host_rank,
        "anchor_terms": q_anchor_terms,
        "robots_filter": q_robots_filter,
        "charset_detect": q_charset_detect,
        "bpe_token_count": q_bpe_token_count,
        "repetition_stats": q_repetition_stats,
        "gopher_filter": q_gopher_filter,
        "pii_scrub": q_pii_scrub,
        "quality_score": q_quality_score,
        "quality_bins": q_quality_bins,
        "corpus_report": q_corpus_report,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "vocab_topk": q_vocab_topk,
        "tfidf_terms": q_tfidf_terms,
        "bm25_topk": q_bm25_topk,
        "quality_gram": q_quality_gram,
        "quality_score_fixed": q_quality_score_fixed,
        "dsir_select": q_dsir_select,
        "dsir_sample": q_dsir_sample,
        "lm_score": q_lm_score,
        "topk_per_group": q_topk_per_group,
        "length_percentiles": q_length_percentiles,
        "block_dedup": q_block_dedup,
        "line_dedup": q_line_dedup,
        "host_template": q_host_template,
        "pub_date": q_pub_date,
        "og_extract": q_og_extract,
        "canonical_dedup": q_canonical_dedup,
        "frontier_rank": q_frontier_rank,
        "table_extract": q_table_extract,
        "feed_parse": q_feed_parse,
        "web_pipeline2": q_web_pipeline2,
        "layout_order": q_layout_order,
        "layout_blocks": q_layout_blocks,
        "layout_pages": q_layout_pages,
        "layout_table": q_layout_table,
        "layout_spans": q_layout_spans,
        "figure_captions": q_figure_captions,
        "lang_segments": q_lang_segments,
        "sentence_split": q_sentence_split,
        "heading_outline": q_heading_outline,
        "page_template": q_page_template,
        "line_unwrap": q_line_unwrap,
        "soft404": q_soft404,
        "sitemap_parse": q_sitemap_parse,
        "html_extract": q_html_extract,
        "html_spans": q_html_spans,
        "dom_extract": q_dom_extract,
        "image_eval": q_image_eval,
        "image_train": q_image_train,
        "image_eval_struct": q_image_eval_struct,
        "image_train_struct": q_image_train_struct,
        "aug_schedule_nougat": q_aug_schedule_nougat,
        "media_frames_struct": q_media_frames_struct,
        "media_train_nougat": q_media_train_nougat,
        "budget_select": q_budget_select,
        "domain_budget": q_domain_budget,
        "sample_exact_k": q_sample_exact_k,
        "snapshot_diff": q_snapshot_diff,
        "media_dhash": q_media_dhash,
        "media_dhash_struct": q_media_dhash_struct,
        "media_features_struct": q_media_features_struct,
    }


def _bpe_vocab_oracle() -> str:
    from .bpe import vocab_oracle_sql

    return vocab_oracle_sql(num_merges=30)


def _bpe_apply_oracle() -> str:
    from .bpe import apply_oracle_sql

    return apply_oracle_sql(num_merges=30)


def ops_oracle_sql() -> dict[str, str]:
    return {
        "aug_schedule": _aug_schedule_sql(),
        "dedup_exact": _SQL_DEDUP_EXACT,
        "url_dedup": _SQL_URL_DEDUP,
        "substring_spans": _SQL_SUBSTRING_SPANS,
        "substring_cut": _SQL_SUBSTRING_CUT,
        "minhash_pairs": _minhash_pairs_sql(bands=8, max_bucket_size=64),
        "minhash_verified": _minhash_verified_sql(bands=8, max_bucket_size=64),
        "minhash_recall": _minhash_recall_sql(),
        "simhash": _SQL_SIMHASH,
        "simhash_pairs": _SQL_SIMHASH_PAIRS,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "cosine_threshold": _SQL_COSINE_THRESHOLD,
        "ann_topk": _SQL_ANN_TOPK,
        "ivf_topk": _SQL_IVF_TOPK,
        "knn_exact": _SQL_KNN_EXACT,
        "embed_quantize": _SQL_EMBED_QUANTIZE,
        "ann_recall": _SQL_ANN_RECALL,
        "semantic_pairs": _SQL_SEMANTIC_PAIRS,
        "semantic_dedup": _SQL_SEMANTIC_DEDUP,
        "events_window": _SQL_EVENTS_WINDOW,
        "events_sliding": _SQL_EVENTS_SLIDING,
        "props_extract": _SQL_PROPS_EXTRACT,
        "sessionize": _SQL_SESSIONIZE,
        "sessionize_presplit": _SQL_SESSIONIZE,
        "asof_join": _SQL_ASOF_JOIN,
        "stratified_sample": _stratified_sample_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "cluster_histogram": _cluster_histogram_sql(),
        "curation_keep": _curation_sql(),
        "curation_sampled": _curation_sampled_sql(),
        "token_count": _SQL_TOKEN_COUNT,
        "chunking": _SQL_CHUNKING,
        "decontaminate": _SQL_DECONTAMINATE,
        "semantic_decontam": _SQL_SEMANTIC_DECONTAM,
        "decontam_report": _decontam_report_sql(),
        "audio_struct": _SQL_AUDIO_STRUCT,
        "bloom_decontam": _SQL_DECONTAMINATE,  # value-identical by design
        "url_filter": _SQL_URL_FILTER,
        "web_pipeline": _web_pipeline_sql(),
        "text_norm": _text_norm_sql(),
        "seq_pack": _SQL_SEQ_PACK,
        "snapshot_dedup": _snapshot_dedup_sql(bands=8),
        "snapshot_minhash": _snapshot_minhash_sql(
            bands=8, max_bucket_size=64, confirm_bands=2
        ),
        "split_assign": _split_assign_sql(),
        "split_grouped": _split_grouped_sql(),
        "host_rank": _host_rank_sql(iters=3, damping_pct=85),
        "anchor_terms": _SQL_ANCHOR_TERMS,
        "robots_filter": _SQL_ROBOTS_FILTER,
        "charset_detect": _SQL_CHARSET_DETECT,
        "bpe_token_count": _SQL_BPE_TOKEN_COUNT,
        "repetition_stats": _SQL_REPETITION_STATS,
        "gopher_filter": _SQL_GOPHER_FILTER,
        "pii_scrub": _SQL_PII_SCRUB,
        "quality_score": _SQL_QUALITY_SCORE,
        "quality_bins": _SQL_QUALITY_BINS,
        "corpus_report": _SQL_CORPUS_REPORT,
        "lang_id": _SQL_LANG_ID,
        "fingerprint": _SQL_FINGERPRINT,
        "vocab_topk": _SQL_VOCAB_TOPK,
        "tfidf_terms": _SQL_TFIDF_TERMS,
        "bm25_topk": _SQL_BM25_TOPK,
        "quality_gram": _SQL_QUALITY_GRAM,
        "quality_score_fixed": _SQL_QUALITY_SCORE_FIXED,
        "dsir_select": _SQL_DSIR_SELECT,
        "dsir_sample": _SQL_DSIR_SAMPLE,
        "lm_score": _SQL_LM_SCORE,
        "topk_per_group": _SQL_TOPK_PER_GROUP,
        "length_percentiles": _SQL_LENGTH_PERCENTILES,
        "block_dedup": _SQL_BLOCK_DEDUP,
        "line_dedup": _SQL_LINE_DEDUP,
        "host_template": _SQL_HOST_TEMPLATE,
        "pub_date": _SQL_PUB_DATE,
        "og_extract": _SQL_OG_EXTRACT,
        "canonical_dedup": _SQL_CANONICAL_DEDUP,
        "frontier_rank": _SQL_FRONTIER_RANK,
        "table_extract": _SQL_TABLE_EXTRACT,
        "feed_parse": _SQL_FEED_PARSE,
        "web_pipeline2": _SQL_WEB_PIPELINE2,
        "layout_order": _SQL_LAYOUT_ORDER,
        "layout_blocks": _SQL_LAYOUT_BLOCKS,
        "layout_pages": _SQL_LAYOUT_PAGES,
        "layout_table": _SQL_LAYOUT_TABLE,
        "layout_spans": _SQL_LAYOUT_SPANS,
        "figure_captions": _SQL_FIGURE_CAPTIONS,
        "lang_segments": _SQL_LANG_SEGMENTS,
        "sentence_split": _sentence_split_sql(),
        "heading_outline": _SQL_HEADING_OUTLINE,
        "page_template": _SQL_PAGE_TEMPLATE,
        "line_unwrap": _SQL_LINE_UNWRAP,
        "soft404": _soft404_sql(),
        "sitemap_parse": _SQL_SITEMAP_PARSE,
        "html_extract": _html_extract_sql(),
        "html_spans": _html_spans_sql(),
        "dom_extract": _SQL_DOM_EXTRACT,
        "image_eval_struct": _SQL_IMAGE_EVAL_STRUCT,
        "image_train_struct": _image_train_struct_sql(),
        "aug_schedule_nougat": _aug_schedule_nougat_sql(),
        "media_frames_struct": _SQL_MEDIA_FRAMES_STRUCT,
        # media_train_nougat: rows-only (pixel kernels; md5-pinned)
        "bpe_vocab": _bpe_vocab_oracle(),
        "bpe_apply": _bpe_apply_oracle(),
        "budget_select": _SQL_BUDGET_SELECT,
        "domain_budget": _SQL_DOMAIN_BUDGET,
        "sample_exact_k": _SQL_SAMPLE_EXACT_K,
        "snapshot_diff": _SQL_SNAPSHOT_DIFF,
        # media_dhash: rows-only (pixel UDF; md5-pinned); its struct twin
        # below carries the hard oracle for the same plumbing
        "media_dhash_struct": _SQL_MEDIA_DHASH_STRUCT,
        "media_features_struct": _SQL_MEDIA_FEATURES_STRUCT,
    }
