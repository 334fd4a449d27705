"""BM25 full-text retrieval over the documents table.

The retrieval leg of the curation suite: given a small query table, score
every document with Okapi BM25 over an inverted index built in-plan and
return the top-k documents per query.  Complements the embedding-space
ANN family (ops/similarity.py) with the lexical ranking a training-data
pipeline needs for eval-set mining, seed expansion, and hard-negative
sampling (no reference counterpart — chug has no retrieval op; the
tokenization follows the same whitespace normalization as
ops/textstats.tfidf_top_terms).

Scale shape (100 TB): document lengths and corpus stats are map-only
(token-array size + a 1-row partial aggregate — zero corpus shuffle,
never a driver collect); the exploded term stream is pruned map-side by
the broadcast DISTINCT query-term set BEFORE any aggregation, so the
only shuffle of exploded data carries matching (doc, term) rows; df is
a window count over that pruned tf relation (single consumption — the
explode executes exactly once, instead of once per downstream consumer
of a shared tf lineage).  No all-pairs expansion and no corpus-scale
shuffle anywhere.

Determinism contract: per-term contributions are quantized to integer
1e-4 units with ``floor(x + 0.5)`` — floor acts on the IEEE double
directly in every engine (unlike ROUND, whose decimal-string HALF_UP in
Spark can disagree with a C-library round at an exact .00005 boundary —
the lm_score lesson), and the integer SUM is order-free, so the score is
reproducible at any parallelism and hash-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bm25_topk"]


def _norm(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query under Okapi BM25.

    ``docs``: (doc_id, text).  ``queries``: (query_id, query_text); query
    terms are the DISTINCT non-empty whitespace tokens of the lowercased
    query text.  NULL/empty texts contribute no terms on either side, and
    corpus statistics (N, avgdl) count only documents with at least one
    term, so degenerate rows cannot skew the length normalization.

    Returns (query_id, doc_id, score_e4, n_terms_hit, rk) with
    ``score_e4`` = BM25 score in integer 1e-4 units
    (idf = ln(1 + (N - df + 0.5)/(df + 0.5)), fully deterministic
    tie-break (score desc, doc_id asc), rk <= k.
    """
    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.filter(
            F.split(_norm(F.col("text")), " "), lambda x: x != ""
        ).alias("toks"),
    )
    # Corpus stats never touch the explode: a 1-row partial aggregate over
    # the token-array size (map-only scan, zero shuffle).  Docs with zero
    # terms are excluded from N/avgdl, matching the tf-derived definition.
    stats = base.select(F.size("toks").alias("dl")).filter(
        F.col("dl") > 0
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    qterms = (
        queries.filter(F.col("query_text").isNotNull())
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.explode(F.split(_norm(F.col("query_text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    # Prune the exploded term stream with the broadcast DISTINCT query-term
    # set BEFORE any aggregation: non-matching terms die map-side, so the
    # only shuffle of exploded data carries matching (doc, term) rows.
    # (Prune on bare terms, not (query_id, term) — a per-query join here
    # would multiply tf rows and double-count frequencies.)
    # dl rides the explode and the aggregation key (constant per doc_id):
    # the r5 shape kept a separate (doc_id, dl) relation and equi-joined it
    # back after tf — a full corpus-keyed join, plus a third evaluation of
    # the tokenizer, for a value already on every exploded row (r6; A/B
    # 4.8 -> 3.1 s at the driver's sf1.0, value-identical).
    tf = (
        base.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Document frequency over the pruned index equals the global df for
    # these terms (the prune is on term, not doc).  A window count keeps
    # tf single-consumption — the explode executes exactly once.
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    j = tf.join(F.broadcast(qterms), "term").crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    contrib = F.floor(idf * tfn * F.lit(10000.0) + F.lit(0.5)).cast("long")
    scored = j.groupBy("query_id", "doc_id").agg(
        F.sum(contrib).alias("score_e4"),
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e4"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score_e4", "n_terms_hit", "rk")
    )
