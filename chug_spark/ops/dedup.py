"""Deduplication operators for large-scale corpus curation.

Not present in the reference (chug streams training data; curation happens
upstream) — these are the ops a 10^12-doc extraction pipeline needs next to
the decoder, built Spark-first:

- exact dedup: hash-groupBy (map-side partial agg, one shuffle on the hash)
- MinHash+LSH: md5 each distinct shingle ONCE to a 60-bit int, then derive
  the per-band signatures with universal-hash permutations
  ``(a_b * h + c_b) mod p`` (cheap JVM integer ops instead of ``bands``
  separate md5 passes); candidate pairs generated inside each (band, sig)
  bucket by in-array expansion (:func:`bucket_pairs` — no self-join), with
  a bucket-size cap so one degenerate bucket (boilerplate corpus) can never
  go quadratic
- SimHash: 64-bit signature (per-bit majority over md5(word) bits) + banded
  Hamming candidate join (4 × 16-bit bands; pigeonhole: any pair within
  Hamming distance 3 shares at least one band)
- n-gram Jaccard: shingle-explode + equi-join + ratio, with a shingle
  document-frequency cap: a stop-phrase shingle appearing in f docs would
  otherwise contribute f² join rows

All hashes are md5-based so DuckDB oracles compute identical values; the
caps are mirrored in the oracle SQL, so capped results stay hash-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: the universal-hash modulus for MinHash permutations.
MINHASH_P = 2_147_483_647


def minhash_perm_constants(bands: int) -> list[tuple[int, int]]:
    """Deterministic (a_b, c_b) multiplier/offset pairs for the per-band
    permutations h_b(x) = (a_b * x + c_b) mod p.  Plain-int LCG derivation —
    embedded as literals in both the Spark plan and the DuckDB oracle SQL."""
    out = []
    for b in range(bands):
        a = (1103515245 * (b + 1) + 12345) % (MINHASH_P - 2) + 1  # a in [1, p-1)
        c = (69069 * (b + 7) + 1) % MINHASH_P
        out.append((a, c))
    return out


def normalize_text(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Groups of exact duplicates (normalized text): fingerprint, group size,
    representative = min doc_id.  One hash-partitioned aggregation; partial
    aggregation makes this shuffle-light at any scale."""
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Deduplicated doc_ids (keep min doc_id per fingerprint)."""
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of a text column (higher-order fns).
    Documents shorter than n words yield an empty set."""
    words = F.split(col, " ")
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_hash(s: Column) -> Column:
    """60-bit integer hash of a shingle: first 15 md5 hex chars, folded mod p.
    One md5 per distinct shingle — the per-band signatures derive from this
    single hash with integer permutations (8× fewer md5 calls than hashing
    per band)."""
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"), F.lit(MINHASH_P)
    )


def minhash_signatures(docs: DataFrame, bands: int = 8, shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash LSH signatures: for band b, sig = min over shingles of
    (a_b * h(shingle) + c_b) mod p.  One row per (doc, band).

    Shingles are generated with explode(sequence) + slice + concat_ws and
    hashed with a plain md5 expression — regular codegen-friendly
    expressions, NOT higher-order-function lambdas (HOF lambdas evaluate
    interpreted per element; the previous zero-shuffle HOF formulation
    measured 4.3 s vs 0.8 s for this one at sf0.1 — the groupBy(doc_id)
    shuffle it buys is tiny because partial aggregation condenses to one
    row per doc per map partition before the exchange).  min() is
    duplicate-insensitive, so no per-doc distinct of the shingle set is
    needed — signatures are bit-identical to the per-doc-distinct HOF
    formulation (verified by exceptAll both ways).  The single-md5 +
    integer-permutation scheme still replaces ``bands`` md5 passes."""
    consts = minhash_perm_constants(bands)
    words = F.split(F.col("text"), " ")
    grams = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("w"))
        .filter(F.size("w") >= shingle_n)
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.size("w") - shingle_n)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("w"), F.col("i") + 1, shingle_n)).alias(
                "sh"
            ),
        )
        .select("doc_id", shingle_hash(F.col("sh")).alias("h"))
    )
    per_doc = grams.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(c), F.lit(MINHASH_P))).alias(
                f"_s{b}"
            )
            for b, (a, c) in enumerate(consts)
        ]
    )
    return per_doc.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"_s{b}") for b in range(len(consts))])
        ).alias("band", "sig"),
    )


def cap_buckets(df: DataFrame, keys: list[str], max_size: int) -> DataFrame:
    """Drop rows belonging to buckets larger than ``max_size`` (degenerate-
    bucket guard: a single hot LSH bucket would otherwise contribute size²
    rows to pair generation).  Window count over the bucket key — one
    shuffle; the window is SORT-BASED and streams, so a hot key of any size
    is counted and dropped without ever materializing its rows in memory
    (unlike a collect_list-first plan)."""
    if not max_size:
        return df
    # (r6 note: an explicit keyed repartition here — to stop AQE's
    # byte-based coalescing of this narrow shuffle — was tried and A/B'd
    # at both the driver's sf0.1 and sf1.0: neutral at sf1.0, 1-2 s SLOWER
    # per query at sf0.1.  The ENSURE_REQUIREMENTS exchange stays.)
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_size)
        .drop("_bn")
    )


def bucket_pairs(
    df: DataFrame, keys: list[str], max_bucket_size: int, payload: list[str] = ()
) -> DataFrame:
    """(doc_a, doc_b[, <p>_a, <p>_b...]) candidate pairs: all unordered doc
    pairs sharing a bucket key, one output row per (bucket, pair).

    Physical strategy (A/B-measured 20% faster than the capped self-join at
    sf0.1, ROUND3.md): window-cap first (streaming — memory-safe on
    arbitrarily hot keys), then collect the ≤cap survivors of each bucket
    into one sorted array and expand the C(n,2) pairs with higher-order
    functions — no join at all, and the groupBy reuses the window's hash
    partitioning on the bucket key (zero extra shuffle).  Per-group memory
    is bounded by the cap, so the plan survives degenerate corpora at any
    scale."""
    capped = cap_buckets(df, keys, max_bucket_size)
    item = F.struct(F.col("doc_id"), *[F.col(p) for p in payload])
    buckets = (
        capped.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(item)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    out = buckets.select(F.explode(pairs).alias("p"))
    cols = [
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
    ]
    for p in payload:
        cols += [F.col(f"p.a.{p}").alias(f"{p}_a"), F.col(f"p.b.{p}").alias(f"{p}_b")]
    return out.select(*cols)


def minhash_candidate_pairs(
    docs: DataFrame, bands: int = 8, shingle_n: int = 3, max_bucket_size: int = 64
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, signature) bucket.
    Pairs form only inside buckets via :func:`bucket_pairs` (cap → in-bucket
    array expansion, no self-join), which is the whole point of LSH at 10^12
    docs.  Buckets larger than ``max_bucket_size`` are dropped entirely
    (standard LSH practice: a bucket that big is boilerplate, not near-dup
    signal, and would cost size² pair rows)."""
    sigs = minhash_signatures(docs, bands, shingle_n)
    return bucket_pairs(sigs, ["band", "sig"], max_bucket_size).distinct()


SIMHASH_BITS = 64


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash over words: bit i = majority vote of bit (i%4) of hex
    digit (i//4) of md5(word).  Returns (doc_id, simhash bitstring).

    Formulation (A/B-measured 3.5× faster than per-bit HOF filters at sf0.1):
    explode words → md5 ONCE per word, folded into two 32-bit ints (two
    ``conv`` calls) → 64 bitmask partial-agg sums.  The explode never
    shuffles (a doc's words stay in its parent partition), so map-side
    partial aggregation condenses to ONE (doc_id, 65 ints) row per doc
    before the groupBy exchange — shuffle volume is n_docs rows regardless
    of corpus text size.

    16-bit signatures (round 1) are useless at 10^12 docs — 65k distinct
    values; 64 bits keep collision-by-chance negligible at corpus scale."""
    assert bits == SIMHASH_BITS, "contract is fixed at 64 bits"
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    )
    m = F.md5(F.col("w"))
    base = base.select(
        "doc_id",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(bits):
        j, b = i // 4, i % 4
        # bit (i%4) of hex digit (i//4): digit j lives at bit 4*(7-j) of the
        # big-endian 8-hex-char int (hi = chars 1-8, lo = chars 9-16)
        col, mask = ("hi", 2 ** (4 * (7 - j) + b)) if j < 8 else (
            "lo", 2 ** (4 * (15 - j) + b)
        )
        aggs.append(
            F.sum((F.col(col).bitwiseAND(F.lit(mask)) != 0).cast("int")).alias(f"b{i}")
        )
    g = base.groupBy("doc_id").agg(*aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"b{i}") * 2 > F.col("n"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return g.select("doc_id", sig.alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    bands: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash: banded Hamming candidate join.  The 64-bit
    signature splits into ``bands`` equal substrings; by pigeonhole, any pair
    within Hamming distance < ``bands`` shares at least one identical band →
    the equi-join on (band, key) finds all such pairs without an all-pairs
    comparison.  Completeness therefore REQUIRES max_distance < bands
    (enforced below — a pair at distance d ≥ bands can differ in every band
    and silently vanish from the candidate join).  Exact Hamming distance
    verifies candidates; degenerate bands (e.g. all-zero prefixes in
    templated corpora) are capped like the MinHash buckets — the cap is the
    one documented recall loss (oversized buckets are boilerplate, not
    near-dup signal)."""
    assert SIMHASH_BITS % bands == 0
    if max_distance >= bands:
        raise ValueError(
            f"banded pigeonhole completeness requires max_distance < bands "
            f"(got max_distance={max_distance}, bands={bands}); raise bands "
            f"or lower max_distance — otherwise pairs at Hamming distance "
            f">= {bands} are silently missed"
        )
    sigs = simhash_signatures(docs)
    return hamming_pairs_from_bits(
        sigs, sig_col="simhash", max_distance=max_distance, bands=bands,
        max_bucket_size=max_bucket_size,
    )


def hamming_pairs_from_bits(
    sigs: DataFrame,
    sig_col: str = "sig",
    max_distance: int = 3,
    bands: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Generic banded-Hamming near-dup pairs over ANY 64-bit '0'/'1'
    signature column (doc_id, <sig_col>): text SimHash and image dHash
    (ops/media_features.media_near_dupes) share this join.  Same pigeonhole
    contract as :func:`simhash_hamming_pairs` (max_distance < bands).

    The signature is packed into two 32-bit halves ONCE, pre-explode: the
    join, distinct, and Hamming verify all move 2 longs per side instead of
    a 64-char string, and the distance is bit_count(xor) — whole-stage
    codegen, vs a 64-substr interpreted lambda per pair (A/B at sf0.1:
    simhash pairs 4.6 s → 1.3 s, identical output)."""
    assert SIMHASH_BITS % bands == 0
    if max_distance >= bands:
        raise ValueError(
            f"banded pigeonhole completeness requires max_distance < bands "
            f"(got max_distance={max_distance}, bands={bands})"
        )
    band_len = SIMHASH_BITS // bands
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.col(sig_col).substr(b * band_len + 1, F.lit(band_len)),
    )
    e = sigs.select(
        "doc_id",
        F.conv(F.col(sig_col).substr(1, 32), 2, 10).cast("long").alias("hi"),
        F.conv(F.col(sig_col).substr(33, 32), 2, 10).cast("long").alias("lo"),
        F.posexplode(band_keys).alias("band", "key"),
    )
    cand = bucket_pairs(
        e, ["band", "key"], max_bucket_size, payload=["hi", "lo"]
    ).distinct()
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def minhash_jaccard_verified(
    docs: DataFrame,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_bucket_size: int = 64,
) -> DataFrame:
    """The production near-dup pattern: LSH candidates + EXACT Jaccard
    verification.  Unlike :func:`ngram_jaccard_pairs` (exploded shingle
    self-join — cost grows with shingle co-occurrence), this joins the
    candidate PAIRS back to the per-doc shingle arrays and computes
    ``|A∩B| / |A∪B|`` with array_intersect per pair: cost is
    O(candidates × shingles-per-doc), independent of corpus-wide shingle
    frequencies.  Integer-ratio math — bit-identical in any engine.

    The per-doc distinct-shingle arrays are built with codegen expressions
    (explode(sequence) + slice + concat_ws, then collect_set) instead of
    the interpreted ``word_shingles`` HOF lambda — only the intersection
    and sizes are consumed, so array order is irrelevant and the sets are
    value-identical.  Measured 6.1 s → 4.2 s at sf0.1 (min-of-2; the
    remainder is the candidate-pair build plus the pair↔array joins)."""
    cand = minhash_candidate_pairs(docs, bands, shingle_n, max_bucket_size)
    words = F.split(F.col("text"), " ")
    shingles = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("w"))
        .filter(F.size("w") >= shingle_n)
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.size("w") - shingle_n)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("w"), F.col("i") + 1, shingle_n)).alias(
                "sh1"
            ),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("sh1").alias("sh"))
    )
    joined = (
        cand.join(
            shingles.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            shingles.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup clusters from candidate pairs: (doc_id, cluster) where
    cluster = min doc_id in the connected component — the canonical-
    representative rule every dedup pipeline needs between candidate pairs
    and "keep one per group".

    Min-label propagation: each round every vertex takes the min of its own
    label and its neighbors' labels; converges in O(component diameter)
    rounds (LSH dedup graphs are shallow — near-clique components).  Each
    round is one broadcast-free shuffle on doc_id; the loop stops early via
    a cheap changed-count check.  At 10^12 docs this is the standard
    large-scale CC recipe (alternating small/large star would halve rounds;
    diameter here stays tiny, so simple propagation wins on constant
    factors)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster")
    )
    prev_sum = None
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster").alias("n_cluster"))
        )
        new_labels = (
            labels.join(neigh, labels["doc_id"] == neigh["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("n_cluster"), F.col("cluster"))
                ).alias("cluster"),
            )
        )
        # truncate lineage each round: without this the accumulated join tree
        # grows linearly in iterations and planning blows the JVM stack long
        # before the data is big (cluster deployments: use checkpoint() with
        # a reliable checkpoint dir instead of localCheckpoint)
        new_labels = new_labels.localCheckpoint(eager=True)
        # EXACT monotone convergence probe: min-propagation only ever lowers
        # a label, so the total decimal label sum strictly decreases on ANY
        # change — equality <=> converged.  One agg scan of the checkpointed
        # table per round (the former join-based probe cost a join job).
        label_sum = new_labels.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)"))
        ).collect()[0][0]
        converged = prev_sum is not None and label_sum == prev_sum
        prev_sum = label_sum
        labels = new_labels
        if converged:
            break
    else:
        # never return silently-wrong labels: a component with diameter >
        # max_iter has not converged (raise rather than under-merge clusters)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return labels


def connected_components_star(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds regardless of component DIAMETER, vs the
    O(diameter) of :func:`connected_components`'s label propagation.  Same
    output contract: (doc_id, cluster=min doc_id in component).

    Use this when the pair graph may contain deep chains (transitive
    near-dup paths); for shallow LSH graphs plain propagation wins on
    constant factors (2 window shuffles per round here vs 1 join round
    there, but far fewer rounds on deep graphs).

    - large-star: every node u links each LARGER neighbor to
      m = min(Γ(u) ∪ {u});
    - small-star: with edges directed larger→smaller, every node u links its
      smaller neighbors and itself to the minimum;
    - converged when the small-star edge set is stable (count + order-
      insensitive hash fingerprint — one cheap agg per round);
    - same loud non-convergence raise as the propagation variant.
    """
    w = Window.partitionBy("u")

    def large_star(e: DataFrame) -> DataFrame:
        both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.col("u"), F.min("v").over(w))
        return (
            both.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e directed u > v; m = min over small neighbors (always < u)
        with_m = e.withColumn("m", F.min("v").over(w))
        neigh = with_m.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_e = with_m.select("u", F.col("m").alias("v"))
        return neigh.unionByName(self_e).distinct()

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: long would ANSI-overflow on big edge sets
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = None
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} iterations"
        )
    # stars: every non-root points at its component min; roots label themselves
    roots = edges.select(F.col("v").alias("doc_id")).subtract(
        edges.select(F.col("u").alias("doc_id"))
    )
    labeled = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster")
    ).unionByName(roots.select("doc_id", F.col("doc_id").alias("cluster")))
    # parity with connected_components: a node whose ONLY pair rows are
    # self-pairs (doc_a == doc_b) has no real edge, but it IS in the input
    # graph — label it a singleton cluster instead of dropping it
    self_only = (
        pairs.filter(F.col("doc_a") == F.col("doc_b"))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .join(labeled.select("doc_id"), "doc_id", "left_anti")
    )
    return labeled.unionByName(
        self_only.select("doc_id", F.col("doc_id").alias("cluster"))
    )


def dedup_keep_representative(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Doc ids surviving near-dup dedup: every doc except non-representative
    members of a cluster (representative = min doc_id).  Plain left_anti join
    — the drop set is UNBOUNDED (on a dup-heavy corpus it is a large fraction
    of all docs), so no broadcast hint: a shuffle anti-join is safe at any
    scale and AQE still converts it to a broadcast join at runtime when the
    drop side turns out small."""
    cc = connected_components(pairs)
    drop = cc.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
    return docs.select(F.col("doc_id").cast("long").alias("doc_id")).join(
        drop, "doc_id", "left_anti"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs found by shingle equi-join:
    explode distinct shingles → self-join on shingle → count intersections →
    |A∩B| / (|A|+|B|-|A∩B|).  Integer-ratio math — bit-identical in any
    engine.  Shuffle key = shingle (high cardinality, well distributed).

    Shingles with document frequency > ``max_shingle_df`` are excluded from
    pair generation (a shingle in f docs contributes f² pair rows — one hot
    stop-phrase would dominate the job at corpus scale).  Denominators keep
    the full shingle-set sizes, so the reported jaccard is a lower bound for
    pairs that shared a dropped shingle; at the default cap that only
    affects boilerplate-heavy pairs whose signal is spurious anyway.

    Distinct (doc_id, shingle) rows come from codegen expressions
    (explode(sequence) + slice + concat_ws + distinct) rather than the
    interpreted ``word_shingles`` HOF — which the old formulation also
    evaluated twice (once for sizes, once for the explode).  Set sizes
    derive from the same exploded rows, so values are identical."""
    words = F.split(F.col("text"), " ")
    exploded = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("w"))
        .filter(F.size("w") >= shingle_n)
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.size("w") - shingle_n)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("w"), F.col("i") + 1, shingle_n)).alias(
                "shingle"
            ),
        )
        .distinct()
    )
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        bucket_pairs(exploded, ["shingle"], max_shingle_df)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "n_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "n_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def exact_substring_spans(
    docs: DataFrame, window_words: int = 20, min_occurrences: int = 2
) -> DataFrame:
    """Exact-substring dedup spans (the Lee et al. "Deduplicating Training
    Data" recipe at word-window granularity): find every ``window_words``
    window whose text occurs >= ``min_occurrences`` times anywhere in the
    corpus (across docs or repeated within one), then merge each doc's
    overlapping/adjacent repeated windows into maximal spans via
    gaps-and-islands.  Returns (doc_id, span_start, span_end, n_windows) in
    word offsets, inclusive — the regions a dedup pass would cut.

    Scale shape: windows explode to ~n_words rows/doc but aggregate on the
    window HASH (map-side partial agg; one exchange), the repeated set
    semi-joins back (AQE decides the strategy), and island merging is one
    window function over each doc's repeated windows — no pair generation
    anywhere, so boilerplate frequency never goes quadratic (the advantage
    over pairwise dedup for hot substrings)."""
    words = F.split(normalize_text(F.col("text")), " ")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("w")
    ).filter(F.size("w") >= window_words)
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - window_words),
                lambda i: F.md5(F.array_join(F.slice(F.col("w"), i + 1, window_words), " ")),
            )
        ).alias("start", "whash"),
    )
    repeated = (
        wins.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("whash")
    )
    rep = wins.join(repeated, "whash").select(
        "doc_id", "start", (F.col("start") + window_words - 1).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    new_island = F.when(
        F.lag("end").over(w).isNull() | (F.col("start") > F.lag("end").over(w) + 1), 1
    ).otherwise(0)
    islands = rep.withColumn(
        "island",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count(F.lit(1)).cast("int").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


def exact_substring_dedup_cut(
    docs: DataFrame, window_words: int = 20
) -> DataFrame:
    """Apply exact-substring dedup: remove every repeated region EXCEPT its
    canonical occurrence (the lexicographically-first (doc_id, start) per
    window hash keeps its text — the all-but-one rule of the Lee et al.
    pass).  Returns (doc_id, clean_text, n_words_cut).

    Same scale shape as :func:`exact_substring_spans` plus: the canonical
    keeper per hash is one more partial aggregation (min struct), and the
    cut itself is a per-doc HOF filter over word indices against the doc's
    merged span list (spans per doc are few after merging — the array stays
    small even for boilerplate-heavy docs)."""
    words = F.split(normalize_text(F.col("text")), " ")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("w")
    )
    long_enough = base.filter(F.size("w") >= window_words)
    wins = long_enough.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - window_words),
                lambda i: F.md5(F.array_join(F.slice(F.col("w"), i + 1, window_words), " ")),
            )
        ).alias("start", "whash"),
    )
    stats = wins.groupBy("whash").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct("doc_id", "start")).alias("keeper"),
    )
    # non-canonical occurrences of repeated windows
    cut_wins = (
        wins.join(stats.filter(F.col("occ") >= 2), "whash")
        .filter(
            (F.col("doc_id") != F.col("keeper.doc_id"))
            | (F.col("start") != F.col("keeper.start"))
        )
        .select("doc_id", "start", (F.col("start") + window_words - 1).alias("end"))
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    new_island = F.when(
        F.lag("end").over(w).isNull() | (F.col("start") > F.lag("end").over(w) + 1), 1
    ).otherwise(0)
    spans = (
        cut_wins.withColumn(
            "island",
            F.sum(new_island).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))
    )
    joined = base.join(spans, "doc_id", "left")
    idx = F.zip_with(
        F.col("w"),
        F.sequence(F.lit(0), F.size("w") - 1),
        lambda word, i: F.struct(word.alias("word"), i.alias("i")),
    )
    keep = F.filter(
        idx,
        lambda s: ~F.exists(
            F.coalesce(F.col("spans"), F.array()),
            lambda sp: (s["i"] >= sp["s"]) & (s["i"] <= sp["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(keep, lambda s: s["word"]), " ").alias("clean_text"),
        (F.size("w") - F.size(keep)).cast("int").alias("n_words_cut"),
    )


def snapshot_dedup(
    new_docs: DataFrame, old_docs: DataFrame, bands: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Incremental (snapshot-vs-corpus) dedup: flag each new-batch doc as an
    exact duplicate (normalized-text fingerprint already present in the
    corpus) and/or a near-duplicate candidate (any MinHash band signature
    collides with a corpus signature), the keep/drop decision a crawler
    applies before appending a new snapshot to the corpus.

    Scale shape: both corpus sides reduce to DISTINCT key sets
    (fingerprints; (band, sig) pairs — one row per doc per band) before the
    joins, and every join is a keyed semi-join that only *flags* new rows —
    no pair expansion anywhere, so hot buckets cost their row count, never
    size².  In production the corpus key sets are the persisted dedup index
    (written once per snapshot, not recomputed); computing them inline here
    keeps the query self-contained.
    """
    fp = F.md5(normalize_text(F.col("text")))
    old_fp = old_docs.select(fp.alias("fingerprint")).distinct()
    base = new_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), fp.alias("fingerprint")
    )
    exact = base.join(old_fp, "fingerprint", "left_semi").select(
        "doc_id", F.lit(1).alias("exact_dup")
    )
    old_sigs = minhash_signatures(old_docs, bands, shingle_n).select(
        "band", "sig"
    ).distinct()
    near = (
        minhash_signatures(new_docs, bands, shingle_n)
        .join(old_sigs, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("near_dup", F.lit(1))
    )
    return (
        base.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(0)).cast("int").alias("exact_dup"),
            F.coalesce("near_dup", F.lit(0)).cast("int").alias("near_dup"),
        )
        .withColumn(
            "keep", ((F.col("exact_dup") + F.col("near_dup")) == 0).cast("int")
        )
    )


def snapshot_minhash_attrib(
    old_docs: DataFrame,
    new_docs: DataFrame,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
    confirm_bands: int = 2,
) -> DataFrame:
    """Incremental near-dup with ATTRIBUTION: for each new-snapshot doc,
    find the old-corpus doc it most likely duplicates — the step after
    :func:`snapshot_dedup`'s boolean flag when the pipeline must link a
    duplicate to its canonical doc (provenance, cluster growth, "which page
    did this crawl re-fetch").

    Confirmation rule: a match needs ``confirm_bands`` AGREEING bands with
    the *same* old doc (one colliding band is LSH noise at corpus scale; k
    agreeing bands estimates Jaccard ≥ (k/bands) against that specific
    doc).  ``matched_old`` is the old doc with the most agreeing bands
    (ties → smallest doc_id); ``keep`` is true when no old doc reaches the
    threshold.

    Scale shape: the old side reduces to the (band, sig, doc_id) signature
    index — persisted once per snapshot in production — with oversized
    buckets dropped (``cap_buckets``: boilerplate signatures, not dup
    signal), so the equi-join fan-out per new row is bounded by
    ``bands * max_bucket_size``.  Attribution is two keyed partial-agg
    reductions (count per (new, old); min-struct per new) — never a window
    over the corpus, never pair expansion outside the capped buckets."""
    old_sigs = cap_buckets(
        minhash_signatures(old_docs, bands, shingle_n),
        ["band", "sig"],
        max_bucket_size,
    ).select("band", "sig", F.col("doc_id").alias("old_id"))
    new_sigs = minhash_signatures(new_docs, bands, shingle_n)
    per_old = (
        new_sigs.join(old_sigs, ["band", "sig"])
        .groupBy("doc_id", "old_id")
        .agg(F.count(F.lit(1)).alias("bm"))
    )
    best = (
        per_old.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("bm")).alias("neg"), F.col("old_id").alias("old_id"))
            ).alias("b")
        )
        .select(
            "doc_id",
            (-F.col("b.neg")).cast("int").alias("band_matches"),
            F.col("b.old_id").alias("matched_old"),
        )
    )
    return (
        new_docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("band_matches", F.lit(0)).cast("int").alias("band_matches"),
            F.when(
                F.col("band_matches") >= confirm_bands, F.col("matched_old")
            ).alias("matched_old"),
            (F.coalesce("band_matches", F.lit(0)) < confirm_bands).alias("keep"),
        )
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Corpus snapshot diff: classify every doc_id across two corpus
    versions as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    normalized-content fingerprint — the audit table an incremental
    (Iceberg-snapshot-style) ingestion pipeline publishes per run.

    ONE full-outer shuffle join on doc_id over (doc_id, fp) projections —
    content strings never move, only 16-byte fingerprints; at 10^12 docs the
    shuffle is two narrow columns per side and AQE handles any hot partition.

    Returns (doc_id, status, fp_old, fp_new).  NULL text fingerprints as
    the empty string — the fp columns are the presence signal after the
    join, so they must never be NULL for a present doc (a NULL-text doc in
    both snapshots is 'unchanged', not 'added')."""
    fp = F.md5(F.coalesce(normalize_text(F.col("text")), F.lit("")))
    o = old.select(F.col("doc_id").cast("long").alias("doc_id"), fp.alias("fp_old"))
    n = new.select(F.col("doc_id").cast("long").alias("doc_id"), fp.alias("fp_new"))
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"), "fp_old", "fp_new")


def line_dedup_keep_first(docs: DataFrame, line_words: int = 8) -> DataFrame:
    """RefinedWeb/CCNet-style corpus-wide exact line dedup, keep-FIRST:
    segment each normalized doc into consecutive ``line_words``-word lines,
    keep only the globally first occurrence of each distinct line (ordered
    by (doc_id, line_idx)), drop every later repeat — including repeats
    inside the same document — and reassemble the survivors in order.

    Differs from :func:`~chug_spark.ops.textstats.boilerplate_block_dedup`
    (document-frequency THRESHOLD drop: a hot block vanishes everywhere):
    keep-first retains exactly one copy of every line, which is the
    RefinedWeb exact-line-dedup contract.  Real corpora segment on '\\n';
    the fixed word window is the segmentation for the newline-free test
    corpus and is the only knob.

    Scale shape (optimization guide §8 "decide with small rows, move big
    rows once"): explode -> ONE keyed aggregation on the line hash taking
    ``min(struct(doc_id, line_idx, line_text))`` — partial aggregation
    combines map-side, so a boilerplate line occurring in 10^9 docs never
    funnels its occurrences through one sorting task (the window-rank
    formulation would; this is why the winner is an agg, not a row_number).
    The winning struct CARRIES its line text, so the winners relation alone
    feeds the per-doc reassembly groupBy — no join back onto the exploded
    corpus (the r5 shape joined on the hash and re-shuffled every line's
    text twice; same values, one full text shuffle more).  Per-doc totals
    come from the line count expression map-side, and docs whose every
    line lost join back in by a narrow (doc_id, int) left join.  Nothing
    quadratic, no driver state.

    Returns (doc_id, clean_text, n_kept, n_dropped); docs whose normalized
    text is NULL or empty carry no lines and drop out (dedup output is
    content-bearing docs).
    """
    norm = normalize_text(F.col("text"))
    words = F.split(norm, " ")
    n_lines = F.ceil(F.size(words) / F.lit(line_words)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(words, i * line_words + 1, line_words), " "
        ),
    )
    content = docs.filter(F.col("text").isNotNull()).filter(norm != "")
    exploded = content.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(lines).alias("line_idx", "line_text"),
    ).withColumn("h", F.md5("line_text"))
    # min(struct) picks the same winner as the (doc_id, line_idx) form —
    # the first two fields are unique per row, line_text never tie-breaks —
    # and hauling the text inside the agg is what makes the join-back
    # unnecessary: each distinct line's text crosses the wire once
    winners = exploded.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_idx", "line_text")).alias("w")
    )
    kept = winners.select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.line_idx").alias("line_idx"),
        F.col("w.line_text").alias("line_text"),
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line_text"))),
                lambda s: s["line_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    # every content doc appears in the output, including docs whose every
    # line lost (clean_text = '', n_kept = 0); total line counts are the
    # map-side expression, no second pass over the exploded corpus
    totals = content.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_lines.cast("long").alias("_n_total"),
    )
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
        (F.col("_n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_dropped"),
    )
