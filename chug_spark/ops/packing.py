"""Sequence packing for training prep: concatenate documents in a
deterministic shuffled order and chunk the token stream into fixed
context windows (the "concat-and-chunk" packing every GPT-style trainer
performs before batching).  Output is the per-doc placement manifest:
where each doc lands in the global token stream and which packs it
spans.

The only global structure needed is an exclusive prefix sum of token
counts over the shuffled order — computed distributed, never through a
single-partition window:

1. order key = md5(doc_id); its first two hex chars are the range
   bucket (256 uniform buckets), so ordering by the key equals ordering
   by (bucket, key) and the in-bucket cumsum parallelizes across 256
   independent window partitions.
2. bucket offsets come from a 256-row aggregate — the one sequential
   window runs over a constant-size table, independent of corpus size —
   and join back in as a broadcast.

At 10^12 docs each bucket holds ~N/256 rows and the per-bucket window
sort is the same cost as any keyed shuffle; nothing on the plan grows
superlinearly and nothing funnels through one task.

No counterpart in the reference (it stops at per-sample tensors); this
is part of the beyond-reference training-prep suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalize_text

N_BUCKETS = 256  # md5 first-byte range buckets; constant, not data-dependent


def pack_sequences(docs: DataFrame, window: int = 512) -> DataFrame:
    """Placement manifest for concat-and-chunk packing into ``window``-token
    contexts: ``doc_id, n_tok, start_tok, first_pack, last_pack, n_packs``.

    Tokens = whitespace tokens of the normalized text (swap in
    ``bpe_token_count``'s regex upstream for BPE-ish counts).  Empty docs
    are dropped — they occupy no stream positions.
    """
    norm = normalize_text(F.col("text"))
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    toks = toks.withColumn(
        "bucket", F.conv(F.substring("ord_key", 1, 2), 16, 10).cast("int")
    )

    in_bucket = Window.partitionBy("bucket").orderBy("ord_key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = toks.withColumn("cum_in_bucket", F.sum("n_tok").over(in_bucket))

    bucket_tot = toks.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    # constant-size (<= 256 rows) sequential window: exclusive bucket offsets
    off_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btot").over(off_w), F.lit(0)).alias("offset")
    )

    placed = with_cum.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tok",
        (F.col("offset") + F.col("cum_in_bucket") - F.col("n_tok")).alias("start_tok"),
    )
    # integer div throughout: exact and engine-identical (no float floor)
    return placed.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tok"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.expr(f"cast(start_tok div {window} as int)").alias("first_pack"),
        F.expr(f"cast((start_tok + n_tok - 1) div {window} as int)").alias("last_pack"),
        F.expr(
            f"cast((start_tok + n_tok - 1) div {window} - start_tok div {window}"
            " + 1 as int)"
        ).alias("n_packs"),
    )


def budget_select(docs: DataFrame, token_budget: int) -> DataFrame:
    """Quality-ranked corpus selection under a token budget: rank docs by
    composite quality (``textstats.quality_score`` quality_bp, doc_id
    tie-break) and keep the ranked prefix whose cumulative whitespace-token
    count stays within ``token_budget`` — the "best N tokens" selection every
    budgeted pretraining run needs.

    Prefix semantics: a doc is kept iff the cumulative count INCLUDING it is
    <= budget (the maximal ranked prefix that fits; the one boundary doc that
    straddles the budget is dropped, not split — splitting is `chunking`'s
    job).  Deterministic at any parallelism.

    Scale shape (same distributed prefix sum as :func:`pack_sequences`, but
    bucketed by the score itself): per-score-bucket window cumsums run in
    parallel (each bucket's rows are one partition's window, ordered by
    doc_id), bucket offsets come from a <=10001-row broadcast window, and no
    global single-partition sort ever happens.  The only whole-corpus ordering
    is BY BUCKET VALUE, which is free (bucket = the score).

    Returns (doc_id, quality_bp, n_tok, cum_tok) for kept docs.
    """
    from .textstats import quality_score

    # (r6 note: folding quality_bp and n_tok into ONE projection — no
    # join — was tried and A/B'd SLOWER at the driver's sf1.0 (3.4-3.5 s
    # vs 2.6-2.8 s for this shape): ``base`` feeds two consumers (the
    # in-bucket window and the bucket totals), so the fused projection
    # re-evaluates the expensive quality expression per consumer, while
    # this join shape amortizes it through the join's exchanges.)
    scored = quality_score(docs).select("doc_id", "quality_bp")
    norm = normalize_text(F.col("text"))
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tok"),
    )
    base = scored.join(toks, "doc_id")

    in_bucket = Window.partitionBy("quality_bp").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = base.withColumn("cum_in_bucket", F.sum("n_tok").over(in_bucket))
    bucket_tot = base.groupBy("quality_bp").agg(F.sum("n_tok").alias("btot"))
    off_w = Window.orderBy(F.desc("quality_bp")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_tot.select(
        "quality_bp",
        F.coalesce(F.sum("btot").over(off_w), F.lit(0)).alias("offset"),
    )
    placed = with_cum.join(F.broadcast(offsets), "quality_bp").select(
        "doc_id",
        "quality_bp",
        F.col("n_tok").cast("int").alias("n_tok"),
        (F.col("offset") + F.col("cum_in_bucket")).alias("cum_tok"),
    )
    return placed.filter(F.col("cum_tok") <= token_budget)


def domain_budget_select(
    docs: DataFrame, token_budget_per_domain: int, group_col: str = "source"
) -> DataFrame:
    """Per-domain token-budget selection: within EACH domain (``group_col``),
    keep the quality-ranked prefix of docs whose cumulative token count fits
    ``token_budget_per_domain`` — the diversity-capped variant of
    :func:`budget_select` (a global budget lets one huge high-quality domain
    crowd out everything else; per-domain caps are how web-corpus mixes
    bound any single host's share).

    Prefix semantics per group match :func:`budget_select`: a doc is kept
    iff the cumulative count including it fits; the straddling doc drops.
    NULL domains coalesce to '' so they form one deterministic group
    (a NULL equi-join key would silently drop those rows instead).
    NULL-text docs are unscoreable and excluded UP FRONT: their NULL
    quality_bp would otherwise vanish at the offsets equi-join while a
    SQL window keeps them (they sort last but a small domain's budget can
    still admit them) — the divergence the adversarial corpus caught.

    Scale shape: the same two-level distributed prefix sum as
    :func:`budget_select`, one level deeper — in-bucket window partitions
    are (domain, quality_bp) so a billion-doc domain still fans out across
    its <=10001 quality buckets, and the bucket-offset window runs per
    domain over those <=10001 bucket rows.  The offsets join is NOT
    broadcast-hinted: at web scale (10^8 domains) the offsets relation is
    itself large, and AQE picks the strategy.

    Returns (source, doc_id, quality_bp, n_tok, cum_tok) for kept docs.
    """
    from .textstats import quality_score

    # same shape decision as budget_select (r6 note there)
    docs = docs.filter(F.col("text").isNotNull())
    scored = quality_score(docs).select("doc_id", "quality_bp")
    norm = normalize_text(F.col("text"))
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col(group_col), F.lit("")).alias("grp"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tok"),
    )
    base = scored.join(toks, "doc_id")

    in_bucket = Window.partitionBy("grp", "quality_bp").orderBy(
        "doc_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_cum = base.withColumn("cum_in_bucket", F.sum("n_tok").over(in_bucket))
    bucket_tot = base.groupBy("grp", "quality_bp").agg(
        F.sum("n_tok").alias("btot")
    )
    off_w = Window.partitionBy("grp").orderBy(F.desc("quality_bp")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_tot.select(
        "grp",
        "quality_bp",
        F.coalesce(F.sum("btot").over(off_w), F.lit(0)).alias("offset"),
    )
    placed = with_cum.join(offsets, ["grp", "quality_bp"]).select(
        F.col("grp").alias("source"),
        "doc_id",
        "quality_bp",
        F.col("n_tok").cast("int").alias("n_tok"),
        (F.col("offset") + F.col("cum_in_bucket")).alias("cum_tok"),
    )
    return placed.filter(F.col("cum_tok") <= token_budget_per_domain)
