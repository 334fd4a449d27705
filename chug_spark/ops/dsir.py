"""DSIR — Data Selection with Importance Resampling (Xie et al., 2023).

The standard model-light data-selection method: estimate bag-of-hashed-
n-gram distributions for a *target* corpus sample and the *raw* pool,
score every raw document with the importance log-ratio
``log w(x) = sum_j c_j (log p_target[j] - log p_raw[j])`` over hashed
unigram+bigram buckets, and resample by weight (Gumbel top-k).  It
complements the trained classifier (ops/classifier.py): DSIR needs no
labels beyond "this sample looks like what I want more of".

Spark-first shape (100 TB):
- one explode over (unigrams ++ bigrams) -> one keyed aggregation to the
  per-(doc, bucket) count relation; bucket hashing is the same JVM-side
  md5-fold as MinHash/the classifier, so DuckDB oracles replay it.
- BOTH distributions come from a single d-row aggregation over that
  relation (conditional sums on the target flag — no second corpus
  pass for the target side), totals via window sums over the d rows.
- scoring joins the broadcast d-row log-ratio table back onto the
  per-(doc, bucket) counts: one shuffle keyed by doc_id, then top-k via
  TakeOrderedAndProject.  The gram relation is consumed twice (ratio
  estimation, scoring) — at production scale you materialize it once;
  there is no all-pairs step and no driver collect anywhere.

Determinism contract: log-ratios are quantized to integer micro-nats
(``floor(x * 1e6 + 0.5)`` — the lm_score pattern, driver-green since r2),
so per-doc scores are integer sums (order-free).  The resampling draw is
a Gumbel key from an md5-derived uniform, also quantized to micro-nats:
``key = score_e6 + gumbel_e6`` stays an exact integer, reproducible at
any parallelism and in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["DSIR_DIM", "doc_gram_counts", "dsir_scores", "dsir_topk"]

DSIR_DIM = 64


def _norm(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _fold8(col: Column, mod: int) -> Column:
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(mod)
    ).cast("int")


def doc_gram_counts(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    dim: int = DSIR_DIM,
) -> DataFrame:
    """(doc_id, is_target, bucket, c): hashed unigram+bigram counts.

    Bigrams are space-joined adjacent token pairs; documents with a
    single token contribute no bigrams (the index sequence is guarded so
    it can never run descending — the bpe sequence(…) lesson).  NULL and
    token-free texts drop out: they carry no n-gram mass on either side
    of the ratio, matching the paper's bag-of-ngrams model.
    """
    toks = F.filter(F.split(_norm(F.col(text_col)), " "), lambda t: t != "")
    staged = docs.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        target.cast("int").alias("is_target"),
        toks.alias("toks"),
    )
    bis = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("toks")),
            lambda i: F.concat(
                F.element_at("toks", i - F.lit(1)),
                F.lit(" "),
                F.element_at("toks", i),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = staged.select(
        "doc_id",
        "is_target",
        F.explode(F.concat(F.col("toks"), bis)).alias("gram"),
    )
    return grams.groupBy(
        "doc_id", "is_target", _fold8(F.col("gram"), dim).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))


def dsir_scores(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    dim: int = DSIR_DIM,
) -> DataFrame:
    """(doc_id, score_e6, n_grams): integer micro-nat importance weights.

    ratio_e6[j] = floor(1e6 * (ln((t_j+1)/(T+d)) - ln((r_j+1)/(R+d))) + .5)
    with add-one smoothing over the d buckets; score_e6 = sum_j c_j *
    ratio_e6[j] — an exact integer at any parallelism.  Raw counts include
    the target rows (the pool being selected from is the whole corpus).

    The (doc, bucket, c) relation feeds BOTH the ratio estimation and the
    scoring join, so the gram pipeline evaluates twice (column pruning
    makes the two subtrees non-identical, so exchange reuse never fires).
    It is re-evaluated rather than localCheckpoint-ed: a scan scales
    horizontally, while a checkpoint of a per-doc relation puts pressure on
    local disk; a multi-job production pipeline would write the grams to a
    scratch TABLE once.
    """
    gc = doc_gram_counts(docs, target, text_col, dim)
    dist = gc.groupBy("bucket").agg(
        F.sum("c").alias("r_c"),
        F.sum(F.when(F.col("is_target") == 1, F.col("c")).otherwise(0)).alias("t_c"),
    )
    w = Window.partitionBy()
    ratio = dist.select(
        "bucket",
        F.floor(
            (
                F.log(
                    (F.col("t_c") + F.lit(1)).cast("double")
                    / (F.sum("t_c").over(w) + F.lit(dim)).cast("double")
                )
                - F.log(
                    (F.col("r_c") + F.lit(1)).cast("double")
                    / (F.sum("r_c").over(w) + F.lit(dim)).cast("double")
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ratio_e6"),
    )
    return (
        gc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("ratio_e6")).alias("score_e6"),
            F.sum("c").cast("long").alias("n_grams"),
        )
    )


def dsir_topk(
    docs: DataFrame,
    target: Column,
    k: int = 100,
    text_col: str = "text",
    dim: int = DSIR_DIM,
    sampled: bool = False,
) -> DataFrame:
    """Top-k selection: deterministic by weight, or Gumbel-resampled.

    ``sampled=True`` adds the md5-derived Gumbel key
    ``gumbel_e6 = floor(-ln(-ln(u)) * 1e6 + 0.5)`` with
    ``u = (fold8(md5(doc_id)) + 0.5) / 2^32`` (never 0 or 1), giving the
    paper's importance *resampling*; the sort key stays an exact integer.
    Returns (doc_id, score_e6, key_e6, rk) with rk <= k.
    """
    s = dsir_scores(docs, target, text_col, dim)
    if sampled:
        u = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            + F.lit(0.5)
        ) / F.lit(float(2**32))
        key = F.col("score_e6") + F.floor(
            -F.log(-F.log(u)) * F.lit(1e6) + F.lit(0.5)
        ).cast("long")
    else:
        key = F.col("score_e6")
    s = s.withColumn("key_e6", key)
    # orderBy().limit(k) compiles to TakeOrderedAndProject — a distributed
    # per-partition top-k + driver merge, NOT a global sort; the ranking
    # window then only ever sees the k survivors (a global row_number
    # window here would funnel the whole corpus through one partition).
    top = s.orderBy(F.desc("key_e6"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("key_e6"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "doc_id", "score_e6", "key_e6", "rk"
    )
