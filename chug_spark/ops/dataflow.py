"""Dataflow/shuffle operators (SURVEY.md §2.10) that carry over to a batch
engine.  The ones that don't (with_epoch/repeat, collate batching, worker
splits) are subsumed by Spark's scheduler/Arrow batching — documented in
SURVEY.md X1/X5/X6."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shuffle_hash(seed: int = 0, interval: int = 0, key: str = "doc_id",
                 engine: str = "xxhash64"):
    """The deterministic shuffle draw behind :func:`det_shuffle`.

    ``engine='xxhash64'`` (default) stays JVM-side and is the fast path;
    ``engine='md5'`` computes the same *kind* of draw portably (md5 is
    available in every engine, so a DuckDB oracle can replay the exact
    stripe assignment and intra-stripe order)."""
    if engine == "xxhash64":
        return F.xxhash64(F.col(key), F.lit(seed + interval))
    if engine == "md5":
        m = F.md5(F.concat(F.col(key).cast("string"),
                           F.lit("|" + str(seed + interval))))
        return F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown shuffle hash engine {engine!r}")


def det_shuffle(df: DataFrame, seed: int = 0, interval: int = 0,
                key: str = "doc_id", num_partitions: Optional[int] = None,
                engine: str = "xxhash64") -> DataFrame:
    """Deterministic sample shuffle: the schedule-independent replacement for
    chug's bounded-buffer ``detshuffle_v2`` (src/chug/wds/filters.py:11-46,
    seed = seed+interval).  Rows land in a pseudo-random but reproducible
    order keyed on (key, seed+interval) — same order at any parallelism,
    unlike the reference's worker-buffer shuffle.

    The exchange is a RANGE partitioning on the draw (the
    TotalOrderPartitioner pattern): partition p holds a contiguous draw
    range and each partition sorts independently, so the concatenated
    output IS the global (draw, key) order regardless of partition count —
    a murmur-hash repartition would interleave the draws differently at
    every parallelism.  No single-partition sort anywhere; scales.

    Cost note: RangePartitioner runs a boundary-sampling job over the
    child plan before the exchange, so the input is evaluated ~twice.
    Fine after a scan (the typical det_shuffle position: shuffling a
    materialized corpus before export); persist() the input first if it
    ends a UDF-heavy pipeline."""
    h = shuffle_hash(seed, interval, key, engine)
    out = df.withColumn("_h", h)
    out = (
        out.repartitionByRange(num_partitions, "_h", key) if num_partitions
        else out.repartitionByRange("_h", key)
    )
    return out.sortWithinPartitions("_h", key).drop("_h")


def det_shuffle_plan(df: DataFrame, seed: int = 0, interval: int = 0,
                     key: str = "doc_id", num_stripes: int = 8,
                     engine: str = "xxhash64") -> DataFrame:
    """The *striped* consumption schedule: for each row, a logical lane
    (``stripe = pmod(draw, num_stripes)`` — the analogue of the reference's
    per-worker sub-interval striding, ShuffledShardList) and its
    deterministic rank within that lane (ordered by the draw).  The stripe
    is a LOGICAL lane assignment, not Spark's physical partition id (an
    execution detail); :func:`det_shuffle` itself realizes the
    parallelism-independent global order via a range exchange.  Per-stripe
    windows only — no global sort, so the plan scales."""
    from pyspark.sql import Window

    h = shuffle_hash(seed, interval, key, engine)
    out = df.withColumn("_h", h).withColumn(
        "stripe", F.pmod(F.col("_h"), F.lit(num_stripes)).cast("int")
    )
    w = Window.partitionBy("stripe").orderBy("_h", key)
    return (
        out.withColumn("pos_in_stripe", F.row_number().over(w) - 1)
        .withColumn("shuffle_key", F.col("_h"))
        .drop("_h")
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    key: str = "lang",
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep each row iff its md5-derived
    uniform draw u(doc_id) falls under its stratum's fraction.  The workhorse
    of corpus re-balancing (cap dominant languages/sources, oversample rare
    ones up to 1.0) — a pure scan-side filter: no shuffle, no state, no RNG,
    identical sample at any parallelism and in any engine (the draw is
    md5-reproducible SQL on both sides).  Strata absent from ``fractions``
    are dropped (fraction 0.0)."""
    m = F.md5(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string")))
    u = F.conv(F.substring(m, 1, 8), 16, 10).cast("long") / F.lit(2.0**32)
    frac = F.lit(0.0)
    for stratum, f in sorted(fractions.items()):
        frac = F.when(F.col(key) == stratum, F.lit(f)).otherwise(frac)
    return docs.filter(u < frac)


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the LARGE side's key with
    pmod(xxhash64(all columns), salt) and explode the SMALL side ×salt, so
    one hot key's rows spread over ``salt`` reducers instead of one
    straggler task.  The manual fallback for engines/paths where AQE
    skew-join can't kick in (e.g. a skewed key feeding a window, or
    pre-AQE Spark); cost = small side replicated ×salt (keep salt modest).

    Same rows as ``large.join(small, key, how)`` for inner/left joins.
    Right/full-outer joins are rejected: every unmatched small-side row has
    ``salt`` exploded copies that all fail to match, so the outer side would
    be silently multiplied ×salt."""
    from pyspark.sql import functions as F

    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower().replace("_", "") not in {a.replace("_", "") for a in allowed}:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti joins only "
            f"(got how={how!r}): the small side is replicated x{salt}, so "
            f"unmatched small-side rows of a right/full outer join would be "
            f"emitted {salt} times"
        )
    lcols = [c for c in large.columns]
    l_salted = large.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(salt))
    )
    s_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(s_salted, [key, "_salt"], how).drop("_salt")


def _split_col(key, val_frac: float, test_frac: float, salt: str):
    """The one split rule (md5 → 32-bit integer draw → integer thresholds)
    shared by the per-doc and grouped splits — a change to the draw scheme
    can never make them diverge."""
    m = F.md5(F.concat(F.lit(salt + "|"), key))
    draw = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    val_cut = int(val_frac * 2**32)
    test_cut = val_cut + int(test_frac * 2**32)
    return (
        F.when(draw < val_cut, F.lit("val"))
        .when(draw < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def split_assign(
    docs: DataFrame,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each doc's md5-derived
    32-bit draw lands in [0, val_cut) → val, [val_cut, test_cut) → test,
    else train.  Integer thresholds (no float compare), so the assignment
    is exact, stable under reshuffles/re-partitioning, and identical in any
    engine — the property a split MUST have so no doc ever migrates between
    train and eval across pipeline runs.  Map-only, zero shuffle."""
    split = _split_col(F.col("doc_id").cast("string"), val_frac, test_frac, salt)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), split.alias("split")
    )


def split_assign_grouped(
    docs: DataFrame,
    group_col: str = "source",
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    salt: str = "gsplit",
) -> DataFrame:
    """Leakage-safe split: the md5 draw hashes the GROUP key (domain /
    source / site), so every doc of a group lands in the same split —
    near-duplicate pages from one site can never straddle train and eval,
    which is how per-doc splits silently leak at web scale.  NULL groups
    form their own deterministic group (hashed as the literal '\\N').
    Same integer thresholds and map-only, zero-shuffle shape as
    :func:`split_assign` (shared rule: :func:`_split_col`)."""
    key = F.coalesce(F.col(group_col).cast("string"), F.lit("\\N"))
    split = _split_col(key, val_frac, test_frac, salt)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(group_col).alias("grp"),
        split.alias("split"),
    )


def sample_exact_k(docs: DataFrame, k: int, seed: int = 0, key: str = "doc_id") -> DataFrame:
    """Deterministic uniform sample of EXACTLY k rows, without replacement:
    rank every row by md5(key|seed|'sample') and take the k smallest.
    Unlike ``df.sample(fraction)`` (approximate count, partitioning-
    dependent), the result is the same k rows at any parallelism and in any
    engine — the property an eval-subset draw or a human-review batch needs.

    Physical plan: per-partition top-k heap + single TakeOrderedAndProject
    reduce (no global sort, no full shuffle) — scale cost is O(n) scan +
    O(k) result, fine at any corpus size for the k this exists for.

    Returns (doc_id, rk) rows; rk (the md5 rank key) kept so downstream can
    re-order reproducibly."""
    rk = F.md5(F.concat_ws("|", F.col(key).cast("string"), F.lit(str(seed)), F.lit("sample")))
    return (
        docs.select(F.col(key).alias("doc_id"), rk.alias("rk"))
        .orderBy("rk")
        .limit(k)
    )
