"""Similarity search over an embedding column (array<float>).

- brute-force cosine: zip_with + aggregate — JVM-side, no Python; the
  correctness baseline and the broadcast-join pattern for small query sets
- LSH-bucketed ANN: deterministic md5-derived random hyperplanes → sign
  bucket → candidates share a bucket — the scale path (bucket join instead
  of all-pairs) for 10^12-row tables
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def norm(a: Column) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector must yield NULL cosine, not kill the
    # job — Spark 4 runs ANSI mode by default, where a plain `/` raises
    # DIVIDE_BY_ZERO, so ONE degenerate embedding in a 10^12-row corpus
    # would fail the whole stage.  Ops additionally gate their inputs with
    # valid_embeddings(); this is the defense-in-depth for ad-hoc callers.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def valid_embeddings(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Drop NULL and zero-norm vectors before any similarity math: a zero
    vector has no direction, so cosine against it is undefined (0/0).
    Every similarity op applies this gate to its input; the DuckDB oracles
    mirror it with the same squared-norm predicate (entry._SQL_VALID_EMB)."""
    return emb.filter(F.col(col).isNotNull() & (sq_norm(F.col(col)) > 0))


def cosine_pairs_threshold(
    emb: DataFrame, n_queries: int = 5, threshold: float = 0.2, round_to: int = 4
) -> DataFrame:
    """Brute-force cosine of the first ``n_queries`` vectors against the whole
    table (query side broadcast — the right plan for small Q × huge N).
    Threshold + rounding keeps the result set order-insensitive and
    fp-stable across engines."""
    # norms are per-VECTOR, not per-pair: compute each side's norm once
    # before the pair join so a pair costs one dot fold instead of three
    # (dot + 2 norms); the product norm_q * norm_n is the identical double,
    # so round(cosine, 4) is bit-equal to the per-pair form.
    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        norm(F.col("embedding")).alias("_n"),
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_n").alias("_qn"),
    )
    return (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.try_divide(
                    dot(F.col("q_emb"), F.col("embedding")),
                    F.col("_qn") * F.col("_n"),
                ),
                round_to,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def knn_topk_exact(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Brute-force EXACT cosine top-k — the correctness baseline the ANN
    variants are measured against.  Small query side broadcast against the
    full scan: linear in corpus size, no shuffle of the big side."""
    from pyspark.sql import Window

    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_recall_at_k(
    emb: DataFrame, n_queries: int = 5, k: int = 5, n_planes: int = 4
) -> DataFrame:
    """recall@k of the LSH ANN against the exact brute-force top-k — the
    quality gauge that decides bucket width (n_planes) at scale.  Returns
    (query_id, n_hit, recall)."""
    exact = knn_topk_exact(emb, n_queries, k).select("query_id", "neighbor_id")
    approx = ann_topk_lsh(emb, n_queries, k, n_planes).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / k).alias("recall"),
        )
    )


#: hyperplane components are a pure function of (plane, d) — precompute the
#: ±1 vector ONCE at plan-build time (same md5-parity values, hashlib side)
#: instead of evaluating md5 per ROW per DIMENSION inside the fold lambda
#: (measured: n_planes × dim md5 calls per row dominated every LSH op).
_PLANE_MAX_DIM = 1024


def _plane_signs(plane: int, max_dim: int = _PLANE_MAX_DIM) -> list[float]:
    import hashlib

    return [
        float((int(hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[0], 16) % 2)
              * 2 - 1)
        for d in range(max_dim)
    ]


def hyperplane_bit(emb: Column, plane: int) -> Column:
    """Sign of <v, h_plane> where h_plane[d] = ±1 derived from md5(plane|d) —
    deterministic pseudo-random hyperplanes, no RNG state anywhere.

    The ±1 components are data-independent constants, so they are embedded
    as a literal array (constant-folded by Catalyst) and the per-row work is
    ONE multiply-accumulate fold; the md5-per-dimension expression survives
    only as the fallback for embeddings wider than ``_PLANE_MAX_DIM``.
    Value-identical to the md5-in-plan form (same md5 parity bits)."""
    signs = F.array(*[F.lit(v) for v in _plane_signs(plane)])
    fast = F.aggregate(
        F.zip_with(
            emb,
            F.slice(signs, 1, F.size(emb)),
            lambda v, s: v.cast("double") * s,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    slow = F.aggregate(
        F.zip_with(
            emb,
            F.sequence(F.lit(0), F.size(emb) - 1),
            lambda v, d: v.cast("double")
            * (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{plane}|"), d.cast("string"))), 1, 1
                    ),
                    16,
                    10,
                ).cast("int")
                % 2
                * 2
                - 1
            ).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    proj = F.when(F.size(emb) <= _PLANE_MAX_DIM, fast).otherwise(slow)
    return F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0"))


def lsh_buckets(emb: DataFrame, n_planes: int = 6) -> DataFrame:
    """(vec_id, bucket) — bucket = concatenated hyperplane sign bits."""
    bucket = F.concat(*[hyperplane_bit(F.col("embedding"), p) for p in range(n_planes)])
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), bucket.alias("bucket")
    )


def ivf_centroids(base: DataFrame, n_centroids: int = 64) -> DataFrame:
    """Deterministic IVF 'training': the ``n_centroids`` vectors with the
    smallest md5(vec_id) are the centroids — a fixed-SIZE hash-ordered sample,
    so the broadcast side and the O(N·K) assignment cost are bounded by K
    regardless of corpus size.  (A mod-based sample — round 2 — grew with N:
    ~N/m centroids made assignment O(N²/m) and the broadcast unbounded.)
    Spark plans the selection as TakeOrderedAndProject (per-partition top-K
    merge: one scan, K-bounded memory); DuckDB reproduces the identical set
    with ORDER BY md5 LIMIT K.  (Production would k-means these; the
    partition/probe machinery — the part that matters at 10^12 rows — is
    identical.)"""
    return (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
        )
    )


def kmeans_centroids(
    emb: DataFrame, n_centroids: int = 64, iters: int = 2, scale: int = 10**7
) -> DataFrame:
    """Distributed Lloyd k-means for IVF training with SCHEDULE-INDEPENDENT
    results — the production upgrade over the hash-sample init of
    :func:`ivf_centroids` (which stays the oracle-checked default).

    Float mean reductions are order-dependent, so naive k-means gives
    different centroids at different parallelism.  Here each component is
    scaled to an integer (``round(v * scale)``) and summed as
    ``decimal(38,0)`` — associative and exact, so the means (and therefore
    every subsequent assignment) are bit-identical at local[2] and on 1000
    executors.  Per iteration: one K-broadcast assignment scan + one
    partial-agg shuffle keyed (centroid_id, dim) — never all-pairs, state
    bounded by K×dims.  Empty clusters keep their previous centroid.

    Returns (centroid_id, c_emb array<double>).
    """
    from pyspark.sql import Window

    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    cents = ivf_centroids(base, n_centroids).select(
        "centroid_id",
        F.transform(F.col("c_emb"), lambda v: v.cast("double")).alias("c_emb"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    for _ in range(iters):
        assigned = (
            base.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "embedding",
                "centroid_id",
                cosine(F.col("embedding"), F.col("c_emb")).alias("c_cos"),
            )
            .withColumn("crank", F.row_number().over(w_assign))
            .filter(F.col("crank") == 1)
        )
        sums = (
            assigned.select(
                "centroid_id",
                F.posexplode(
                    F.transform(
                        F.col("embedding"),
                        lambda v: F.round(v.cast("double") * scale).cast(
                            "decimal(38,0)"
                        ),
                    )
                ).alias("dim", "iv"),
            )
            .groupBy("centroid_id", "dim")
            .agg(F.sum("iv").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        means = sums.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                lambda t: (t["s"] / (t["n"] * scale)).cast("double"),
            ).alias("new_emb")
        )
        # empty clusters: no member rows -> keep the previous centroid
        cents = cents.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("new_emb", "c_emb").alias("c_emb")
        )
        # truncate the per-iteration plan (same reason as connected_components)
        cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    probes: int = 2,
    n_centroids: int = 64,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k — the coarse-quantizer scale path next to the LSH
    one: assign every vector to its nearest centroid (the inverted lists),
    probe each query's ``probes`` nearest lists, exact cosine + rank within
    the candidates.  The centroid set is a FIXED size (``n_centroids``), so
    its broadcast never grows with the corpus; candidate generation shuffles
    on centroid_id only — never all-pairs.  Sequential-fold cosines are
    bit-identical in DuckDB, so assignment, probing, and ranks are
    oracle-checkable end to end."""
    from pyspark.sql import Window

    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    cents = centroids if centroids is not None else ivf_centroids(base, n_centroids)
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        cosine(F.col("embedding"), F.col("c_emb")).alias("c_cos"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    ranked = scored.withColumn("crank", F.row_number().over(w_assign))
    assigned = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "centroid_id"
    )
    probe = ranked.filter(
        (F.col("vec_id") < n_queries) & (F.col("crank") <= probes)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
    )
    cand = assigned.join(F.broadcast(probe), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Embedding near-dup candidate pairs (SemDeDup-style): vectors sharing
    an LSH sign bucket whose exact cosine ≥ threshold.  Pair generation via
    :func:`chug_spark.ops.dedup.bucket_pairs` (cap → in-bucket array
    expansion — no self-join, memory bounded by the cap), so the op is the
    embedding-space sibling of the MinHash/SimHash text dedups and scales
    the same way: cost is buckets × cap², never corpus²."""
    from .dedup import bucket_pairs

    # the bucket is a pure function of the embedding — compute it inline
    # instead of equi-joining the table against lsh_buckets(itself) on
    # vec_id (that self-join shuffled every embedding twice for no reason);
    # per-vector norms ride the pair payload so each candidate pair costs
    # one dot fold (same doubles, bit-equal cosine).
    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    bucket = F.concat(
        *[hyperplane_bit(F.col("embedding"), p) for p in range(n_planes)]
    )
    with_b = base.select(
        F.col("vec_id").alias("doc_id"),
        bucket.alias("bucket"),
        "embedding",
        norm(F.col("embedding")).alias("_n"),
    )
    pairs = bucket_pairs(
        with_b, ["bucket"], max_bucket_size, payload=["embedding", "_n"]
    )
    cos = F.round(
        F.try_divide(
            dot(F.col("embedding_a"), F.col("embedding_b")),
            F.col("_n_a") * F.col("_n_b"),
        ),
        4,
    )
    return (
        pairs.select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def semantic_dedup_keep(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """vec_ids surviving embedding-space near-dup removal: connected
    components over :func:`semantic_pairs`, keep the min vec_id per
    component.  Plain left_anti against the (unbounded) drop set — AQE
    broadcasts it when small."""
    from .dedup import connected_components

    pairs = semantic_pairs(emb, threshold, n_planes, max_bucket_size)
    cc = connected_components(pairs)
    drop = cc.filter(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias("vec_id")
    )
    return emb.select(F.col("vec_id").cast("long").alias("vec_id")).join(
        drop, "vec_id", "left_anti"
    )


def ann_topk_lsh(
    emb: DataFrame, n_queries: int = 5, k: int = 5, n_planes: int = 4
) -> DataFrame:
    """ANN top-k: candidates share the query's LSH bucket; exact cosine +
    window rank inside the bucket.  At scale the bucket join replaces the
    full cross product; here k-NN quality is approximate by construction."""
    from pyspark.sql import Window

    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    b = lsh_buckets(base, n_planes)
    with_b = base.join(b, "vec_id")
    queries = with_b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        with_b.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings_int8(emb: DataFrame, round_to: int = 4) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/bandwidth lever
    of every large ANN deployment (4x smaller vectors, SIMD-friendly codes):
    scale = max|v| / 127, code_i = round(v_i / scale), clipped to [-127,127].
    Pure HOF Column math, map-only (zero shuffle at any scale); codes are
    exact integers so the DuckDB oracle hash-matches them bit-for-bit, and
    the reported reconstruction error (rounded) rides along as the quality
    gauge.  Returns (vec_id, scale_bp, codes, max_abs_err_bp)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = max_abs / F.lit(127.0)
    codes = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x / scale).cast("int")),
        ),
    )
    err = F.zip_with(
        v, codes, lambda x, c: F.abs(x - c.cast("double") * scale)
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(scale * 10_000, round_to).alias("scale_bp"),
        codes.alias("codes"),
        F.round(F.array_max(err) * 10_000, round_to).alias("max_abs_err_bp"),
    ).filter(max_abs > 0)


def semantic_decontaminate(
    emb: DataFrame,
    eval_mod: int = 10,
    eval_rem: int = 7,
    threshold: float = 0.35,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-space decontamination: flag train vectors whose cosine to
    ANY held-out eval vector meets ``threshold`` — the semantic companion of
    the n-gram ``decontaminate`` op (eval split = vec_id % eval_mod ==
    eval_rem, same convention).  Per contaminated vector: hit count, the
    best-matching eval id and its cosine ((cosine desc, eval_id asc)
    tie-break for determinism).

    Scale shape: the eval benchmark side is small by nature → broadcast; the
    train side streams through one scan, no shuffle of the big side; the
    final per-vector reduction is a partial-aggregating groupBy on vec_id."""
    base = valid_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    evals = base.filter(F.pmod("vec_id", F.lit(eval_mod)) == eval_rem).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("e_emb")
    )
    train = base.filter(F.pmod("vec_id", F.lit(eval_mod)) != eval_rem)
    scored = train.join(F.broadcast(evals)).select(
        "vec_id",
        "eval_id",
        F.round(cosine(F.col("embedding"), F.col("e_emb")), round_to).alias("cos"),
    ).filter(F.col("cos") >= threshold)
    best = F.struct(F.col("cos").alias("c"), (-F.col("eval_id")).alias("nid"))
    return scored.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_hits"),
        F.max(best).alias("_b"),
    ).select(
        "vec_id",
        "n_hits",
        (-F.col("_b.nid")).cast("long").alias("best_eval_id"),
        F.col("_b.c").alias("best_cosine"),
    )
