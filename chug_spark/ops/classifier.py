"""Trained quality classifier (CCNet / LLaMA-style model-based filtering).

The curation suite scores quality with fixed heuristics
(ops/textstats.quality_score, gopher_filter); production pipelines
additionally TRAIN a classifier to score "does this look like the target
distribution" (CCNet trains fastText Wikipedia-vs-crawl; LLaMA reuses it).
This module is that trainer, Spark-first (no reference counterpart — chug
has no model training):

- **Features**: hashed unigram counts (feature-hashing trick), dim
  buckets from the first 8 hex chars of md5(term) — computed entirely
  JVM-side (codegen `transform`/`conv`), so the Python stage never touches
  text and the bucketing is reproducible in DuckDB oracles with the same
  md5-fold used by the MinHash family (ops/dedup.py).
- **Trainer**: ridge regression on 0/1 labels via normal equations — the
  one-pass distributed trainer for d << n.  The augmented moment matrix
  G = sum_doc z z^T with z = [x_0..x_{d-1}, 1, y] is accumulated per
  partition in numpy **int64** (counts are integers, so G is exact and
  its sum is order-free — byte-identical at any parallelism), emitted as
  sparse upper-triangle (i, j, g) rows, and reduced by one tiny keyed agg
  (<= (d+2)(d+3)/2 rows per partition).  The (d+1)x(d+1) solve happens on
  the driver over the collected moments — bounded by construction, the
  same documented pattern as the BPE merge loop (ops/bpe.py) — with pure
  pivoted Gaussian elimination (no BLAS variance).
- **Scoring**: map-only token-wise weight lookup
  (`aggregate(dims, 0, acc + w[d])`), whole-stage codegen, zero shuffle.

Scale shape (100 TB): one scan for the moments (map-side full reduction
to ~2k rows per partition, one tiny shuffle), one map-only scan to score.
No corpus-scale shuffle, no driver collect of data — only of the fixed
(d+2)^2 moment table.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "FEAT_DIM",
    "hashed_dims",
    "moment_matrix",
    "solve_ridge",
    "train_quality_classifier",
    "score_documents",
]

FEAT_DIM = 64


def _norm(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def hashed_dims(text: Column, dim: int = FEAT_DIM) -> Column:
    """array<int> of hashed-unigram feature buckets for one document.

    Bucket = (first 8 hex chars of md5(term) as int) % dim — one md5 per
    token, folded exactly like the MinHash shingle hash so DuckDB oracles
    reproduce it digit-by-digit.  Empty tokens are dropped; NULL text
    yields NULL (callers filter the doc universe explicitly).
    """
    toks = F.filter(F.split(_norm(text), " "), lambda t: t != "")
    return F.transform(
        toks,
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % F.lit(dim)
        ).cast("int"),
    )


def moment_matrix(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    dim: int = FEAT_DIM,
) -> DataFrame:
    """Sparse upper triangle of G = sum_doc z z^T, z = [x, 1, y].

    Features are length-normalized: x_j = floor(1000 * count_j / dl + 0.5)
    (integer per-mille term frequencies — the corpus langs share one
    vocabulary and differ only in their mixture, so raw counts would
    confound document length with class signal).  The quantization keeps
    the moments exact integers: reproducible at any parallelism and
    digit-for-digit derivable in SQL.

    ``docs`` rows with NULL ``text_col`` are excluded (they have no
    feature vector); every remaining doc contributes its bias entry even
    with zero tokens.  ``label`` must evaluate to 0/1 int.  Returns
    (i int, j int, g long) with i <= j and only nonzero entries — exact
    integer moments, independent of partitioning and row order.
    """
    aug = dim + 2
    feat = docs.filter(F.col(text_col).isNotNull()).select(
        hashed_dims(F.col(text_col), dim).alias("dims"),
        label.cast("int").alias("y"),
    )

    def part(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        G = np.zeros((aug, aug), dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            C = np.zeros((n, aug), dtype=np.float64)
            lens = pdf["dims"].map(len).to_numpy()
            if lens.sum():
                rows = np.repeat(np.arange(n), lens)
                cols = np.concatenate(
                    [np.asarray(d, dtype=np.int64) for d in pdf["dims"]]
                )
                np.add.at(C, (rows, cols), 1.0)
            dl = np.maximum(lens, 1).astype(np.float64)
            # floor(x + 0.5), NOT np.rint (banker's rounding) — must match
            # the SQL floor(1000.0 * c / dl + 0.5) digit for digit
            X = np.floor(
                C[:, :dim] * 1000.0 / dl[:, None] + 0.5
            ).astype(np.int64)
            X = np.concatenate(
                [X, np.zeros((n, 2), dtype=np.int64)], axis=1
            )
            X[:, dim] = 1
            X[:, dim + 1] = pdf["y"].to_numpy(dtype=np.int64)
            G += X.T @ X
        iu = np.triu_indices(aug)
        g = G[iu]
        nz = g != 0
        yield pd.DataFrame(
            {
                "i": iu[0][nz].astype("int32"),
                "j": iu[1][nz].astype("int32"),
                "g": g[nz],
            }
        )

    partials = feat.mapInPandas(part, "i int, j int, g long")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def solve_ridge(
    moments: Sequence[tuple[int, int, int]],
    dim: int = FEAT_DIM,
    lam: float = 1.0,
) -> list[float]:
    """Solve (X^T X + lam*I) w = X^T y from sparse upper-tri moments.

    The bias (index ``dim``) is not regularized.  Pure pivoted Gaussian
    elimination — one implementation, no BLAS library variance, so the
    trained weights are a deterministic function of the integer moments.
    Returns dim+1 weights (features then bias).
    """
    d1 = dim + 1
    A = [[0.0] * d1 for _ in range(d1)]
    b = [0.0] * d1
    for i, j, g in moments:
        if i < d1 and j < d1:
            A[i][j] += g
            if i != j:
                A[j][i] += g
        elif j == dim + 1 and i < d1:
            b[i] += g
    for k in range(dim):
        A[k][k] += lam
    # forward elimination with partial pivoting
    for c in range(d1):
        p = max(range(c, d1), key=lambda r: abs(A[r][c]))
        if A[p][c] == 0.0:
            continue  # dead bucket: no term ever hashed here -> w = 0
        A[c], A[p] = A[p], A[c]
        b[c], b[p] = b[p], b[c]
        for r in range(c + 1, d1):
            f = A[r][c] / A[c][c]
            if f:
                for cc in range(c, d1):
                    A[r][cc] -= f * A[c][cc]
                b[r] -= f * b[c]
    w = [0.0] * d1
    for c in range(d1 - 1, -1, -1):
        if A[c][c] == 0.0:
            continue
        s = b[c] - sum(A[c][cc] * w[cc] for cc in range(c + 1, d1))
        w[c] = s / A[c][c]
    return w


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    dim: int = FEAT_DIM,
    lam: float = 1.0,
) -> list[float]:
    """One-pass distributed trainer: exact integer moments -> driver solve.

    The only collect is the fixed <= (d+2)(d+3)/2-row moment table (2211
    rows at d=64) — bounded by construction regardless of corpus size.
    """
    rows = moment_matrix(docs, label, text_col, dim).collect()
    return solve_ridge([(r["i"], r["j"], r["g"]) for r in rows], dim, lam)


def score_documents(
    docs: DataFrame,
    weights: Sequence[float],
    text_col: str = "text",
    dim: int = FEAT_DIM,
    threshold: float = 0.5,
) -> DataFrame:
    """Map-only scoring: score = bias + (1000/dl) * sum_tok w[bucket(tok)].

    The linear model over per-mille term frequencies collapses to a
    per-token weight-lookup sum scaled by document length (scoring skips
    the training-side integer quantization — a sub-half-per-mille
    difference that cannot matter to a learned threshold).  Returns
    (doc_id, score double, pred int); NULL-text docs are excluded,
    token-free docs score the bare bias.  The summation order is the
    fixed token order of each document — reproducible at any parallelism.
    """
    warr = F.array(*[F.lit(float(w)) for w in weights[:dim]])
    bias = F.lit(float(weights[dim]))
    dims = hashed_dims(F.col(text_col), dim)
    tok_sum = F.aggregate(
        dims,
        F.lit(0.0),
        lambda acc, d: acc + F.element_at(warr, d + F.lit(1)),
    )
    score = (
        F.when(
            F.size(dims) > 0,
            tok_sum * F.lit(1000.0) / F.size(dims),
        ).otherwise(F.lit(0.0))
        + bias
    )
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        score.alias("score"),
        (score > F.lit(threshold)).cast("int").alias("pred"),
    )
