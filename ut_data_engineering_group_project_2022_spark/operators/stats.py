"""Distributed second-moment statistics over embedding columns.

``embedding_moments`` computes the full mean vector and covariance
matrix of an ``array<float>`` column in one distributed pass — the
primitive behind PCA whitening, Mahalanobis outlier scoring, and
feature-drift monitoring in a training-data pipeline.
``pca_whiten`` builds on it: eigendecompose the (dim x dim) covariance
on the driver — a dim-sized artifact, like k-means centroids — and
project the corpus through the whitening matrix distributedly.

Why not explode? A 64-dim covariance needs all 64x64 cross products;
exploding twice is a 4096x row blow-up *before* the shuffle — dead at
100 TB. The scale plan used here is the classic map-side moment
aggregation instead:

  1. ``mapInPandas`` folds each Arrow batch into ONE partial-moment
     row set: ``n``, the 64 component sums, and the 2080 upper-triangle
     product sums (numpy ``X.T @ X`` per batch).
  2. The partials (one row set per Arrow batch, ~thousands of values
     each) are summed with ``groupBy(i, j)`` — a shuffle of
     O(batches x d^2/2) tiny rows, independent of the corpus size.
  3. Covariance finalizes JVM-side from the exact integer sums.

Determinism contract:
components are QUANTIZED before summation — ``q = floor(x * 1e4)`` as
int64 — so every partial sum is integer-exact and the grand totals are
accumulated as ``DECIMAL(38,0)``. Integer addition is associative, so
the result is identical under ANY partitioning / Arrow-batch order; a
float64 fold was not (the partial sums depended on batch composition,
and ``ROUND(cov, 6)`` flipped on cells near a rounding boundary
between the local run and the driver run). The covariance is therefore
*of the 4-decimal-quantized components* — a ~1e-4 perturbation, stated
in the registered query's contract and mirrored exactly by the DuckDB
oracle (same FLOOR quantization) — in exchange for bit-identical
output across engines, partitionings, and runs.

At 1000 executors over 100 TB this moves only a few MB per batch to
the shuffle, and the Python boundary is Arrow-vectorized numpy, not
per-row work. The registered covariance query's DuckDB oracle
recomputes the same matrix by brute-force UNNEST self-join, which is
fine at sf0.01 and exactly what step 1 avoids at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.operators import fits, single_task
from ut_data_engineering_group_project_2022_spark.operators.similarity import (
    _vec_matrix,
)

# Quantization scale: 4 decimal digits. Chosen so that at driver-compare
# scale every finalization intermediate (n*Sxy, Sx_i*Sx_j, n^2*SCALE^2)
# stays far below 2^53 and the decimal->double casts are EXACT in both
# engines — the cross-engine doubles are bit-identical, not merely close.
SCALE = 10_000
SCALE2 = SCALE * SCALE  # product-sum scale (1e8)


def _moment_partials(dim: int):
    """mapInPandas fn: fold each Arrow batch into flat moment rows.

    Encoding (summable under groupBy(i, j) + SUM(s)):
      * (i, j)  with 0 <= i <= j < dim : sum of q_i * q_j   (scale 1e8)
      * (i, -1)                        : sum of q_i         (scale 1e4)
      * (-1, -1)                       : row count          (scale 1)

    where ``q = floor(x * SCALE)`` per component (int64). Per-chunk sums
    are emitted as int64; batches are chunked so ``rows * max(q)^2``
    cannot overflow int64 even on adversarial value ranges. Exact
    cross-chunk accumulation happens in Spark as DECIMAL(38,0).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        iu, ju = np.triu_indices(dim)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(x * float(SCALE)).astype("int64")
            # int64-overflow guard: bound rows-per-chunk by the largest
            # possible per-term product magnitude in this batch.
            maxq = int(np.abs(q).max()) or 1
            step = max(1, (1 << 62) // (maxq * maxq))
            for lo in range(0, q.shape[0], step):
                c = q[lo : lo + step]
                sxy = c.T @ c  # int64-exact within the chunk bound
                yield pd.DataFrame(
                    {
                        "i": np.concatenate([iu, np.arange(dim), [-1]]),
                        "j": np.concatenate([ju, np.full(dim, -1), [-1]]),
                        "s": np.concatenate(
                            [sxy[iu, ju], c.sum(axis=0), [c.shape[0]]]
                        ).astype("int64"),
                    }
                )

    return fn


def _summed_moments(emb: DataFrame, dim: int) -> DataFrame:
    """Exact integer moment totals: (i, j, s DECIMAL(38,0))."""
    partials = emb.select("embedding").mapInPandas(
        _moment_partials(dim), schema="i int, j int, s long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )


#: Corpus-row ceiling for the single-task covariance kernel: ~50 MB of
#: Arrow vector transfer at dim=64. Above it the batch-partials +
#: decimal-sum plan (the 100 TB shape, module docstring) is unchanged.
LOCAL_MOMENT_ROWS = 100_000


def _moments_local(emb: DataFrame, dim: int) -> DataFrame:
    """Single-task covariance for a corpus known to fit one executor:
    the distributed row ran 6 jobs / 14 Exchange mentions around
    ~10 ms of numpy at bench scale (2000 x 64). Identical arithmetic:
    the same floor(x*SCALE) int64 quantization and overflow-chunked
    X.T @ X (exact integer partials, summed as python ints so the
    totals cannot overflow), the same
    ROUND((n*Sxy - Sx_i*Sx_j)/n^2/SCALE^2, 6) + 0.0 finalization —
    int->double conversion and HALF_UP rounding are correctly rounded
    in both engines (the shortest-repr equivalence), so the output is
    bit-identical to the distributed form by construction."""

    def body(t):
        import decimal

        import numpy as np

        iu, ju = np.triu_indices(dim)
        sx = np.zeros(dim, dtype=object)
        sxy = np.zeros(len(iu), dtype=object)
        x = _vec_matrix(t.column("embedding"))
        q = np.floor(x * float(SCALE)).astype("int64")
        maxq = int(np.abs(q).max()) or 1
        step = max(1, (1 << 62) // (maxq * maxq))
        for lo in range(0, q.shape[0], step):
            c = q[lo : lo + step]
            sxy += (c.T @ c)[iu, ju]
            sx += c.sum(axis=0)
        n = q.shape[0]
        q6 = decimal.Decimal("0.000001")
        den = float(n * n)
        cov = []
        for k in range(len(iu)):
            num = float(n * int(sxy[k]) - int(sx[iu[k]]) * int(sx[ju[k]]))
            v = num / den / float(SCALE2)
            cov.append(
                float(
                    decimal.Decimal(repr(v)).quantize(
                        q6, rounding=decimal.ROUND_HALF_UP
                    )
                )
                + 0.0
            )
        return iu, ju, cov

    return single_task(emb.select("embedding"), body, "i int, j int, cov double")


def embedding_moments(
    emb: DataFrame,
    dim: int = 64,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Upper-triangle covariance of ``embedding``: rows ``(i, j, cov)``.

    ``cov`` is the population covariance of the SCALE-quantized
    components (divide by n), finalized from exact integer sums:

        cov = (n * Sxy - Sx_i * Sx_j) / n^2 / SCALE^2

    The numerator and denominator are exact DECIMAL(38,0) products, so
    the double division — mirrored operation-for-operation in the
    DuckDB oracle — is partition-order-exact; the final ROUND(6) cannot
    flip on partitioning.  ``+ 0.0`` after the ROUND collapses IEEE
    negative zero (DuckDB's ROUND can emit ``-0.0`` where Spark emits
    ``0.0`` — numerically equal but repr/hash-distinct).

    ``corpus_rows``: optional caller-known row count (e.g. a parquet
    footer read). When ``operators.fits`` proves the input within
    ``LOCAL_MOMENT_ROWS`` (that count, else one bounded count) the whole
    computation runs as one single-task kernel (:func:`_moments_local`,
    identical arithmetic).
    """
    if fits(LOCAL_MOMENT_ROWS, corpus_rows, emb):
        return _moments_local(emb, dim)
    summed = _summed_moments(emb, dim)
    n = summed.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    means = summed.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("mi"), F.col("s").alias("sx")
    )
    pairs = summed.filter(F.col("j") >= 0)
    return (
        pairs.join(F.broadcast(n))
        .join(F.broadcast(means.withColumnRenamed("mi", "i_")), F.col("i") == F.col("i_"))
        .drop("i_")
        .withColumnRenamed("sx", "sx_i")
        .join(
            F.broadcast(
                means.select(F.col("mi").alias("j_"), F.col("sx").alias("sx_j"))
            ),
            F.col("j") == F.col("j_"),
        )
        .drop("j_")
        .select(
            "i",
            "j",
            (
                F.round(
                    (F.col("n") * F.col("s") - F.col("sx_i") * F.col("sx_j")).cast(
                        "double"
                    )
                    / (F.col("n") * F.col("n")).cast("double")
                    / F.lit(float(SCALE2)),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def _collect_moments(
    emb: DataFrame, dim: int
) -> tuple[int, list[int], dict[tuple[int, int], int]]:
    """Driver-side exact integer totals: (n, sx[dim], {(i,j): sxy})."""
    rows = _summed_moments(emb, dim).collect()
    n = 0
    sx = [0] * dim
    sxy: dict[tuple[int, int], int] = {}
    for r in rows:
        s = int(r["s"])
        if r["i"] == -1:
            n = s
        elif r["j"] == -1:
            sx[r["i"]] = s
        else:
            sxy[(r["i"], r["j"])] = s
    return n, sx, sxy


def pca_whiten(emb: DataFrame, dim: int = 64, k: int = 8) -> DataFrame:
    """Project ``embedding`` onto its top-``k`` whitened principal axes.

    Returns ``(vec_id, pc0..pc{k-1})`` where the components are
    centered, unit-variance, and mutually decorrelated (cov ~ I) — the
    embedding-whitening step that improves cosine-based near-dup and
    retrieval quality on anisotropic embedding spaces.

    Plan: one distributed moment pass (see module docstring), then the
    (dim x dim) covariance — a DIM-sized artifact, independent of the
    corpus — is eigendecomposed on the driver with numpy and the
    whitening matrix ships back broadcast inside an Arrow
    ``mapInPandas`` projection (per-batch numpy matmul, no per-row
    Python). Two corpus passes total, no shuffle of the corpus itself.

    The moment sums are integer-exact (quantized fold, see module
    docstring), so the covariance fed to ``eigh`` is identical across
    runs and partitionings; eigenvector sign is additionally pinned
    (largest-|component| coordinate made positive) and components are
    rounded to 4 decimals. No SQL oracle exists because
    eigendecomposition isn't SQL-expressible — tests/test_stats.py
    gates it closed-form instead: cov(output) ~ I, mean ~ 0,
    run-to-run determinism.
    """
    import numpy as np

    n, sx_l, sxy_d = _collect_moments(emb, dim)
    sx = np.array(sx_l, dtype="float64")
    sxy = np.zeros((dim, dim))
    for (i, j), s in sxy_d.items():
        sxy[i, j] = s
        sxy[j, i] = s
    mean = sx / (n * float(SCALE))
    cov = sxy / (n * float(SCALE2)) - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:k]
    lam, v = eigval[order], eigvec[:, order]
    # Sign convention: the largest-|x| coordinate of each axis is positive.
    flips = np.sign(v[np.abs(v).argmax(axis=0), np.arange(k)])
    v = v * flips
    whiten = v / np.sqrt(np.maximum(lam, 1e-12))  # (dim, k)

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            z = np.round((x - mean) @ whiten, 4)
            out = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy()})
            for c in range(k):
                out[f"pc{c}"] = z[:, c]
            yield out

    schema = "vec_id bigint, " + ", ".join(f"pc{c} double" for c in range(k))
    return emb.select("vec_id", "embedding").mapInPandas(project, schema=schema)


def mahalanobis_diag(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Diagonal-Mahalanobis outlier score per vector: ``(id, maha2)``.

    ``maha2 = sum_i ((x_i - mean_i) / std_i)^2`` — the standard cheap
    embedding-outlier score (full Mahalanobis needs the inverse
    covariance; the diagonal form is the per-dimension z-score energy).

    Scale plan: per-dimension mean/std come from the distributed moment
    pass (diagonal rows only — integer-exact quantized sums, see module
    docstring), are finalized with the EXACT expression the oracle
    mirrors (``Sq/(n*SCALE)`` etc.), ROUNDED to 6 decimals, collected —
    64 numbers, corpus-independent — and embedded as array literals in
    a ``zip_with``+``aggregate`` fold: pure JVM column expressions, NO
    per-dimension explode of the corpus and no shuffle in the scoring
    pass. Because the constants derive from exact integer sums they are
    identical across runs/partitionings; the scoring fold itself is
    order-pinned (arrays fold left-to-right on both engines).
    """
    import math

    summed = _summed_moments(emb, dim)
    diag = {
        (r["i"], r["j"]): int(r["s"])
        for r in summed.filter(
            (F.col("i") == F.col("j")) | (F.col("j") == -1)
        ).collect()
    }
    n = diag[(-1, -1)]
    # NOTE: expression shapes below mirror the DuckDB oracle exactly
    # (same operand order, same double ops) so the rounded constants are
    # bit-identical cross-engine.
    means, stds = [], []
    for i in range(dim):
        m2 = diag[(i, -1)] / (n * float(SCALE))
        var = diag[(i, i)] / (n * float(SCALE2)) - m2 * m2
        means.append(round(m2, 6))
        stds.append(round(math.sqrt(var), 6))
    m_arr = F.array(*[F.lit(v) for v in means])
    s_arr = F.array(*[F.lit(v) for v in stds])
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    z2 = F.zip_with(
        F.zip_with(x, m_arr, lambda a, b: a - b),
        s_arr,
        lambda d, s: (d / s) * (d / s),
    )
    return emb.select(
        "vec_id",
        F.aggregate(z2, F.lit(0.0), lambda acc, v: acc + v).alias("maha2"),
    )
