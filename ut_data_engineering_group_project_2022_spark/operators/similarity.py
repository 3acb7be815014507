"""Similarity search over embedding columns.

Two paths:
  * brute-force cosine top-k — the exact baseline. All math is composed
    left-to-right in doubles (`F.aggregate` over `F.zip_with`) so the
    DuckDB oracle (`list_dot_product` over DOUBLE[]) matches bit-for-bit.
  * LSH-bucketed ANN — the 100 TB path: deterministic pseudo-random
    hyperplanes (md5-derived, no RNG state to ship), sign-bit bucket key,
    candidates restricted to same-bucket rows. Sub-linear candidate sets;
    recall is tested against the brute-force baseline in tests/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.functions.text import md5_int60
from ut_data_engineering_group_project_2022_spark.operators import fits, single_task

#: Every operator here reads ids from ``vec_id`` and vectors from
#: ``embedding``. The exact-integer rows (k-means, SemDeDup, PQ,
#: k-center) put each component on the fixed-point grid
#: ``floor(v * GRID_SCALE)``; k-means, SemDeDup and k-center add
#: ``GRID_OFFSET`` so every coordinate is positive and integer division
#: is floor division in both engines (Spark `div` truncates, DuckDB `//`
#: floors; they agree only on non-negatives).
GRID_SCALE = 1_000_000
GRID_OFFSET = 1_000_000


def grid() -> Column:
    """``embedding`` on the offset fixed-point grid, as array<bigint>."""
    return F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * GRID_SCALE).cast("bigint")
        + GRID_OFFSET,
    )


def int_d2(a: Column | str, b: Column | str) -> Column:
    """Exact squared distance of two bigint arrays (a BIGINT fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, e: acc + e,
    )


def _seed_hashes(salt: str, ids):
    """``md5_int60(salt || '|' || id)`` for every id of an int64 array:
    the Python twin of the Spark seed hash."""
    import hashlib

    import numpy as np

    return np.asarray(
        [
            int(hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:15], 16)
            for i in ids.tolist()
        ],
        dtype=np.int64,
    )


def as_double(col: Column | str) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_rows: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of `corpus` rows for every `queries` row.

    Broadcast the query side (it is the small side by construction) so the
    corpus scan stays shuffle-free; the only shuffle is the per-query top-k
    window, partitioned by query id. ``query_rows``/``corpus_rows`` are
    optional caller-known upper bounds (footer counts) that skip the
    gate-count jobs (operators.fits).
    """
    if fits(LOCAL_KNN_QUERIES, query_rows, queries) and fits(
        LOCAL_KNN_ROWS, corpus_rows, corpus
    ):
        return _knn_bruteforce_local(queries, corpus, k)
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rn")
    )


def lsh_bucket(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign-bit LSH bucket key from deterministic md5-derived hyperplanes.

    plane[p][d] = (md5_int60('p|d') mod 2001 - 1000) / 1000.0  in [-1, 1]
    bucket bit p = 1 iff dot(vec, plane[plane_offset + p]) > 0.
    """
    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        coeffs = F.array(
            *[
                (
                    (
                        md5_int60(F.lit(f"{plane_offset + p}|{d}"))
                        % F.lit(2001)
                        - F.lit(1000)
                    ).cast("double")
                    / F.lit(1000.0)
                )
                for d in range(dim)
            ]
        )
        proj = F.aggregate(
            F.zip_with(vec, coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def knn_lsh(
    vectors: DataFrame,
    k: int,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 4,
) -> DataFrame:
    """Multi-table sign-bit LSH ANN: the scale path for pairwise similarity.

    ``n_tables`` independent hash tables of ``n_bits`` planes each
    (table t uses planes [t*n_bits, (t+1)*n_bits)); a pair is a candidate
    if it collides in ANY table, candidates are deduped and re-ranked with
    the exact cosine. A single fine-grained table (round-1 design: one
    8-bit key) had recall@5 = 0.02 against brute force — true neighbors
    almost never agree on all 8 sign bits; OR-ing several coarser tables
    is the standard fix (recall is test-gated in tests/test_graph.py).
    ``n_bits`` tunes bucket size against corpus scale; candidates-per-pair
    dedup keeps the exact re-rank linear in distinct candidates.

    Output schema matches `knn_bruteforce` (query_id, neighbor_id, score,
    rn) restricted to candidate pairs.
    """
    v = vectors.select(
        F.col("vec_id").alias("vid"), as_double("embedding").alias("vec")
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    F.col("vec"), dim, n_bits, plane_offset=t * n_bits
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    hashed = v.select(
        "vid", F.explode(tables).alias("tb")
    ).select("vid", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    cand = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") != F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("query_id"), F.col("b.vid").alias("neighbor_id")
        )
        .distinct()
    )
    scored = (
        cand.join(
            v.select(F.col("vid").alias("query_id"), F.col("vec").alias("qv")),
            "query_id",
        )
        .join(
            v.select(F.col("vid").alias("neighbor_id"), F.col("vec").alias("cv")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rn")
    )


def lsh_candidate_pairs(
    vectors: DataFrame,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 4,
) -> DataFrame:
    """Unordered candidate pairs (id_a < id_b) colliding in ANY LSH table.

    The candidate half of the candidates->verify shape shared by
    MinHash-LSH and banded SimHash: sub-quadratic pair generation, exact
    scoring only on survivors."""
    v = vectors.select(
        F.col("vec_id").alias("vid"), as_double("embedding").alias("vec")
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    F.col("vec"), dim, n_bits, plane_offset=t * n_bits
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    hashed = v.select("vid", F.explode(tables).alias("tb")).select(
        "vid", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
    )
    return (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )


def cosine_neardup_lsh(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 4,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: LSH-bucketed candidates, exact
    cosine verify — the 100 TB path `cosine_neardup_pairs` documents.

    Same output schema as the all-pairs form restricted to candidate
    pairs; the registered oracle regenerates the hash tables in SQL, so
    the whole pipeline (not just the verify) is hash-checked."""
    cand = lsh_candidate_pairs(emb, dim, n_tables, n_bits)
    v = emb.select(F.col("vec_id").alias("vid"), as_double("embedding").alias("vec"))
    return (
        cand.join(v.select(F.col("vid").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(v.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("raw")
        )
        .filter(F.col("raw") >= threshold)
        .select("id_a", "id_b", F.round("raw", 6).alias("cosine"))
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b) with a < b and
    cosine >= threshold — the embedding-space analog of MinHash near-dup.

    Exact all-pairs form (the verification baseline). The 100 TB path
    reuses `lsh_bucket` to restrict pairs to same-bucket candidates
    (sub-quadratic), then verifies with this exact cosine — same
    candidates->verify shape as dedup.minhash_lsh_dedup."""
    a = emb.select(F.col("vec_id").alias("id_a"), as_double("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), as_double("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    score = cosine(F.col("va"), F.col("vb"))
    return (
        pairs.select("id_a", "id_b", score.alias("raw"))
        .filter(F.col("raw") >= threshold)
        .select("id_a", "id_b", F.round("raw", 6).alias("cosine"))
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Assign every vector to its nearest centroid cell (max cosine,
    centroid-id tiebreak). Returns (vec_id, v, cell_id).

    The centroid set is broadcast — at cluster scale cells partition the
    corpus so a query probes one partition instead of all of them."""
    c = centroids.select(
        F.col("vec_id").alias("cell_id"), as_double("embedding").alias("cv")
    )
    x = emb.select("vec_id", as_double("embedding").alias("v"))
    scored = x.join(F.broadcast(c)).select(
        "vec_id", "v", "cell_id", cosine(F.col("v"), F.col("cv")).alias("s")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cell_id")
    )


def knn_ivf(
    emb: DataFrame,
    k: int,
    n_cells: int = 8,
    n_queries: int = 10,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize into `n_cells` cells, search only the
    query's own cell (nprobe=1).

    Centroids here are the first `n_cells` vectors — a deterministic
    stand-in for a sampled k-means training step (which at scale would be
    a Pandas-UDF k-means over a sample; the in-plan search below is
    unchanged). Queries follow the bruteforce convention (vec_id <
    n_queries), corpus is the rest."""
    assigned = ivf_assign(emb, emb.filter(F.col("vec_id") < n_cells))
    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    c = assigned.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cell_id"
    )
    scored = c.join(F.broadcast(q), "cell_id").select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rn")
    )


def kmeans_fixed_point(
    emb: DataFrame,
    k: int = 10,
    iterations: int = 2,
) -> DataFrame:
    """Lloyd k-means in fixed-point integer arithmetic; returns
    (vec_id, cluster, dist2).

    Floats make distributed k-means nondeterministic (double summation is
    partition-order dependent) and oracle-hostile. This formulation stays
    in exact integers end-to-end:

      * quantize: :func:`grid` (the offset keeps the integer division
        below a floor division in both engines);
      * seeds: the k vectors with the smallest salted md5 hash, fetched
        with orderBy+limit (TakeOrdered — never a corpus-wide window),
        cluster ids 0..k-1 in hash order;
      * assign: argmin of the exact integer squared distance, ties to the
        lower cluster id — `min(struct(d2, cluster))`, a plain aggregate;
      * update: per-(cluster, dim) integer sums (map-side combined; the
        shuffle carries k*dim keys, not the corpus), centroid = sum div
        count — centroids stay on the integer grid, so iteration 2
        compares exact integers again.

    Every iteration is one broadcast crossJoin (k centroid rows) + one
    aggregate; the oracle unrolls the same iterations as SQL CTEs.
    """
    v = emb.select("vec_id", grid().alias("x"))
    h = md5_int60(F.concat(F.lit("seed|"), F.col("vec_id").cast("string")))
    seeds = v.withColumn("h", h).orderBy("h").limit(k)
    centroids = (
        seeds.withColumn("cluster", F.row_number().over(W.orderBy("h")) - 1)
        .select("cluster", F.col("x").alias("c"))
    )
    d2 = int_d2("x", "c")
    assigned = None
    for _ in range(iterations):
        assigned = (
            v.crossJoin(F.broadcast(centroids))
            .withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cluster")).alias("m"), F.first("x").alias("x"))
            .select("vec_id", F.col("m.cluster").alias("cluster"),
                    F.col("m.d2").alias("d2"), "x")
        )
        centroids = (
            assigned.select("cluster", F.posexplode("x").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            # Exact integral division (Spark `div` == DuckDB `//` on
            # non-negatives); double `/`+cast would drift for clusters
            # past ~1e9 members.
            .select("cluster", "pos", F.expr("s div n").cast("bigint").alias("ci"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ci"))),
                    lambda s: s.ci,
                ).alias("c")
            )
        )
    return assigned.select("vec_id", "cluster", F.col("d2").alias("dist2"))


#: Row ceiling for the single-task SemDeDup kernel: its within-cluster
#: pair scan is ~n^2/k, so the gate bounds one task's work at roughly
#: 20k^2/2/10 x dim float ops (~1-2 s) — far below that the distributed
#: plan is pure job-dispatch latency; far above it the cluster-bounded
#: pair join is the right shape (the 100 TB path, unchanged).
LOCAL_SEMDEDUP_ROWS = 20_000


def _semdedup_local(
    emb: DataFrame,
    k: int,
    iterations: int,
    threshold: float,
) -> DataFrame:
    """Single-task SemDeDup for a corpus known to fit one executor:
    the fixed-point integer k-means (same md5 seeds, exact int64
    distances, argmin ties to the lower cluster id, sum-div-count
    centroid updates) plus the within-cluster cosine pair scan, all in
    one single-task job. Float parity with the distributed plan:
    every dot product is the LEFT FOLD the Spark/DuckDB expression
    computes, reproduced exactly by ``np.cumsum`` over the elementwise
    products (verified 0 mismatches in 40k pairs — ``np.dot`` diverges
    on 66%); norms and the threshold comparison use the identical
    operation order. Pinned bit-equal to the distributed path at
    sf0.001/0.01/0.1 by tests/test_local_kernels.py."""
    v = emb.select(
        "vec_id", grid().alias("x"), as_double("embedding").alias("e")
    )
    idt = emb.schema["vec_id"].dataType.simpleString()

    def body(t):
        import numpy as np

        ids = t.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
        X = _vec_matrix(t.column("x"), dtype="int64")
        E = _vec_matrix(t.column("e"))
        n = len(ids)
        # seeds: k smallest salted md5 hashes, cluster ids in hash order
        seed_idx = np.lexsort((ids, _seed_hashes("seed", ids)))[: min(k, n)]
        cid = np.arange(len(seed_idx), dtype=np.int64)  # ascending ids
        C = X[seed_idx]
        x2 = np.einsum("ij,ij->i", X, X)
        assign = None
        for _ in range(iterations):
            # exact integer distances; centroid columns ordered by
            # ascending cluster id so argmin's first-min = lowest id
            c2 = np.einsum("ij,ij->i", C, C)
            d2 = x2[:, None] + c2[None, :] - 2 * (X @ C.T)
            assign = cid[np.argmin(d2, axis=1)]
            # update: per-cluster integer sums div counts; empty
            # clusters drop out (mirrors the groupBy)
            kc = int(cid.max()) + 1
            sums = np.zeros((kc, X.shape[1]), np.int64)
            np.add.at(sums, assign, X)
            counts = np.bincount(assign, minlength=kc)
            present = np.flatnonzero(counts > 0)
            C = sums[present] // counts[present, None]
            cid = present.astype(np.int64)
        # within-cluster pairs (id_a < id_b), exact left-fold cosine
        norm = np.sqrt(np.cumsum(E * E, axis=1)[:, -1])
        order = np.lexsort((ids,))  # pair generation in ascending id
        dup_of = np.full(n, np.iinfo(np.int64).max, np.int64)
        pos_of = np.empty(n, np.int64)
        pos_of[order] = np.arange(n)
        for c in np.unique(assign):
            members = order[np.sort(pos_of[np.flatnonzero(assign == c)])]
            nc = len(members)
            if nc < 2:
                continue
            ia, ib = np.triu_indices(nc, k=1)
            a_idx, b_idx = members[ia], members[ib]
            for lo in range(0, len(a_idx), 500_000):
                asl = a_idx[lo : lo + 500_000]
                bsl = b_idx[lo : lo + 500_000]
                dots = np.cumsum(E[asl] * E[bsl], axis=1)[:, -1]
                cos = dots / (norm[asl] * norm[bsl])
                hit = cos >= threshold
                np.minimum.at(dup_of, bsl[hit], ids[asl[hit]])
        has_dup = dup_of != np.iinfo(np.int64).max
        return ids, assign, ~has_dup, np.where(has_dup, dup_of, None)

    return single_task(
        v, body, f"vec_id {idt}, cluster int, keep boolean, dup_of {idt}"
    )


def semdedup(
    emb: DataFrame,
    k: int = 10,
    iterations: int = 2,
    threshold: float = 0.40,
    corpus_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster with the deterministic
    fixed-point k-means, drop all but the smallest id among
    within-cluster pairs with cosine >= ``threshold``. Size-dispatched:
    one single-task kernel when ``operators.fits`` proves the input
    within ``LOCAL_SEMDEDUP_ROWS`` (``corpus_rows`` footer bound, else
    one bounded count), the cluster-bounded distributed pair join
    otherwise. Returns (vec_id, cluster, keep, dup_of)."""
    if fits(LOCAL_SEMDEDUP_ROWS, corpus_rows, emb):
        return _semdedup_local(emb, k, iterations, threshold)
    # Distributed path: the cluster-bounded pair join (see llm_semdedup's
    # registry doc for the scale adjudication).
    assign = (
        kmeans_fixed_point(emb, k=k, iterations=iterations)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=False)
    )
    e = emb.select("vec_id", as_double("embedding").alias("e"))
    av = (
        assign.join(e, "vec_id")
        .withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
        .localCheckpoint(eager=False)
    )
    a = av.select(
        F.col("vec_id").alias("id_a"),
        "cluster",
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = av.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cluster_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot_ab = dot(F.col("ea"), F.col("eb"))
    dups = (
        a.join(
            b,
            (F.col("cluster") == F.col("cluster_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dot_ab / (F.col("na") * F.col("nb")) >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


def knn_pq(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_queries: int = 10,
    dim: int = 64,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with an ADC scan (the Jégou et al. 2011
    PQ recipe, the standard memory-bounded retrieval path at corpus
    scale: 64 doubles compress to ``m`` one-byte codes).

    Everything is exact integer arithmetic on the fixed-point grid
    (``floor(x * GRID_SCALE)``, no offset), so the
    encoding, the distance tables, and the top-k are deterministic and
    bit-identical to the DuckDB oracle:

      * subspaces: ``dim`` splits into ``m`` contiguous blocks;
      * codebook: the first ``n_codes`` vectors' subvectors (the
        deterministic training stand-in, as in :func:`knn_ivf`; at
        scale the codebook comes from a sampled per-subspace k-means
        and the pipeline below is unchanged);
      * encode: per (vector, subspace), the code with minimal exact
        integer squared distance, ties to the lower code id — a
        struct-min aggregate over a broadcast codebook join; the
        encoded corpus is ``n*m`` narrow rows (the 8-byte compressed
        representation);
      * ADC: per query, a (subspace, code) -> distance lookup table
        (``m*n_codes`` rows, broadcast); the scan joins each code row
        to its table entry and sums per (query, vector) — never
        touching the original vectors.

    Top-k by ascending ADC distance, neighbor-id tiebreak. Returns
    (query_id, neighbor_id, dist2, rn). Recall vs the exact baseline is
    gated in tests/.

    PRECONDITION: at least one row must have
    ``vec_id < n_codes`` — the codebook is trained on those rows. With
    an EMPTY codebook every downstream join is empty and the result is
    silently empty, INCLUDING the corpus-side wrong-length/NULL
    embedding gate (it is folded into the encode aggregate, which is
    only reachable through the codebook join; the query-side per-row
    LUT gate is equally unreachable). Callers using non-contiguous ids
    must remap them first; the registered queries satisfy this by
    construction (dense 0-based vec_ids with n_codes ≤ corpus size,
    pinned by the non-empty-result assertions in tests/test_graph.py).
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    # Size gate: within LOCAL_KNN_ROWS the whole encode/LUT/ADC/top-k
    # chain runs as one job.
    if fits(LOCAL_KNN_ROWS, corpus_rows, emb):
        return _knn_pq_local(emb, k, m, n_codes, n_queries, dim)
    # Validate dim against the DATA, not just the parameter: a shorter
    # real embedding would make F.slice silently emit short/empty
    # subvectors and zero distances, degrading recall with no
    # diagnostic. A NULL or wrong-length embedding HARD-FAILS the job:
    # the gate is a per-GROUP check folded into the encode aggregate
    # (min of the carried array length — NULL sizes make the min NULL,
    # which also trips the gate) plus a per-row check on the query-side
    # LUT, which only ever holds n_queries*m*n_codes rows. A per-row
    # check on the corpus scan would defeat its whole-stage codegen;
    # this form keeps the hot scan/explode/join stage branch-free.
    sub_d = dim // m

    def _dim_gate(out: Column, sz: Column) -> Column:
        return F.when(sz == dim, out).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"knn_pq: dim={dim} does not match embedding length "),
                    F.coalesce(sz.cast("string"), F.lit("NULL")),
                )
            )
        )

    x = emb.select(
        "vec_id",
        F.transform(
            as_double("embedding"),
            lambda e: F.floor(e * GRID_SCALE).cast("bigint"),
        ).alias("x"),
        F.size("embedding").alias("sz"),
    )
    subs = x.select(
        "vec_id",
        "sz",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.slice("x", s * sub_d + 1, sub_d).alias("xs"),
                ),
            )
        ).alias("e"),
    ).select("vec_id", "sz", F.col("e.s").alias("s"), F.col("e.xs").alias("xs"))
    cb = subs.filter(F.col("vec_id") < n_codes).select(
        F.col("vec_id").alias("code"), "s", F.col("xs").alias("cs")
    )
    d2 = int_d2("xs", "cs")
    enc = (
        subs.filter(F.col("vec_id") >= n_queries)
        .join(F.broadcast(cb), "s")
        .withColumn("d2", d2)
        .groupBy("vec_id", "s")
        .agg(
            F.min(F.struct("d2", "code")).alias("mn"),
            # min over an all-NULL sz group is NULL -> gate trips; every
            # row in a (vec_id, s) group shares one source vector, so
            # min(sz) IS that vector's length.
            F.min("sz").alias("msz"),
        )
        .select("vec_id", "s", _dim_gate(F.col("mn.code"), F.col("msz")).alias("code"))
    )
    lut = (
        subs.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "code",
            _dim_gate(d2, F.col("sz")).alias("d2"),
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("dist2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dist2", "rn")
    )


def knn_pq_rerank(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 16,
    n_codes: int = 16,
    n_queries: int = 10,
    corpus_rows: int | None = None,
) -> DataFrame:
    """PQ shortlist + exact re-rank (the production IVFADC recipe): the
    ADC scan of :func:`knn_pq` yields a ``shortlist``-sized candidate
    set per query from the COMPRESSED index alone; only those
    candidates' raw vectors are read back for an exact cosine top-k.
    At corpus scale the shortlist is a vanishing fraction of n, so the
    expensive exact math touches shortlist*q vectors, not n*q. The
    candidate set (q*shortlist rows) broadcasts into a single corpus
    pass — no shuffle of the vector table. Returns (query_id,
    neighbor_id, score, rn), ranked by unrounded cosine (the
    knn_bruteforce convention), rounded to 6 on output.
    """
    # Size gate: within LOCAL_KNN_ROWS the ADC shortlist AND the exact
    # re-rank run as one job (the distributed form below pays the
    # ~10-job PQ chain plus the rerank join/window).
    if fits(LOCAL_KNN_ROWS, corpus_rows, emb):
        return _knn_pq_local(
            emb, shortlist, m, n_codes, n_queries, 64, rerank_k=k
        )
    cand = knn_pq(
        emb, k=shortlist, m=m, n_codes=n_codes, n_queries=n_queries
    ).select("query_id", "neighbor_id")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
    )
    scored = c.join(F.broadcast(cand.join(q, "query_id")), "neighbor_id").select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("s")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id", F.round("s", 6).alias("score"), "rn"
        )
    )


#: Size gates for the single-task knn kernels (guide §1.2/§4.2).
#: The query ceiling bounds the exact-fold score matrix (queries x
#: corpus doubles: 128 x 100k = ~100 MB, ~1.6G flops worst case); above
#: either gate the distributed plans run unchanged (the 100 TB path).
LOCAL_KNN_QUERIES = 128
LOCAL_KNN_ROWS = 100_000


def _vec_matrix(col, dim=None, gate_msg=None, dtype="float64"):
    """Arrow list column -> (n x d) ``dtype`` matrix, read as one flat
    buffer (no per-row arrays). A NULL entry or a row whose length
    differs from the others fails the task; with ``gate_msg`` it fails
    with the distributed plan's dim-gate message when an entry is NULL
    or its length is not ``dim`` (same contract, same trigger point:
    execution)."""
    import pyarrow.compute as pc

    col = col.combine_chunks()
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if gate_msg is not None:
        bad = None
        if col.null_count:
            bad = "NULL"
        else:
            off = [int(x) for x in set(lengths.tolist()) if int(x) != dim]
            if off:
                bad = str(off[0])
        if bad is not None:
            raise ValueError(gate_msg + bad)
    elif col.null_count or len(set(lengths.tolist())) > 1:
        raise ValueError("vector column holds a NULL or a ragged row")
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(dtype)
    d = int(lengths[0]) if len(lengths) else 0
    return flat.reshape(len(col), d)


def _fold_scores(Q, C):
    """Exact left-fold cosine of every (query, corpus) pair: the
    accumulator adds one dimension's product at a time in index order,
    reproducing ``F.aggregate(zip_with(a, b, *), 0.0, +)`` bit-for-bit
    for every pair simultaneously (the np.dot/np.einsum orderings
    diverge in the last ulp; cf. the semdedup kernel's cumsum note)."""
    import numpy as np

    d = Q.shape[1]
    acc = np.zeros((Q.shape[0], C.shape[0]))
    qn = np.zeros(Q.shape[0])
    cn = np.zeros(C.shape[0])
    for j in range(d):
        acc += Q[:, j : j + 1] * C[:, j]
        qn += Q[:, j] * Q[:, j]
        cn += C[:, j] * C[:, j]
    return acc / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :])


def _round_half_up6(x: float) -> float:
    """Spark ROUND(double, 6): BigDecimal(shortest-repr) HALF_UP —
    python's repr is the same shortest decimal form."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _knn_bruteforce_local(
    queries: DataFrame, corpus: DataFrame, k: int
) -> DataFrame:
    """Single-task exact knn for a (queries, corpus) pair known to fit
    one executor (gated by :func:`knn_bruteforce`). One Spark job
    replaces the broadcast join + fold-expression scan + top-k window
    (~6 jobs of mostly dispatch latency at bench scale); the score is
    the identical left-fold cosine (:func:`_fold_scores`) with the
    identical (desc score, asc neighbor id) tie order, rounded with
    Spark's HALF_UP. Assumes the documented embedding contract
    (uniform-length, non-null vectors)."""
    idt = queries.schema["vec_id"].dataType.simpleString()
    tagged = queries.select(
        F.lit(True).alias("is_q"),
        F.col("vec_id").alias("vid"),
        as_double("embedding").alias("v"),
    ).unionByName(
        corpus.select(
            F.lit(False).alias("is_q"),
            F.col("vec_id").alias("vid"),
            as_double("embedding").alias("v"),
        )
    )

    def body(t):
        import numpy as np

        qids_o, nids_o, scores_o, rns_o = [], [], [], []
        is_q = t.column("is_q").to_numpy(zero_copy_only=False)
        vids = t.column("vid").to_numpy(zero_copy_only=False).astype(np.int64)
        V = _vec_matrix(t.column("v"))
        qm = np.flatnonzero(is_q)
        cm = np.flatnonzero(~is_q)
        if len(qm) and len(cm):
            scores = _fold_scores(V[qm], V[cm])
            cids = vids[cm]
            for qi, qid in enumerate(vids[qm]):
                row = scores[qi]
                order = np.lexsort((cids, -row))[:k]
                for rn, j in enumerate(order, start=1):
                    qids_o.append(int(qid))
                    nids_o.append(int(cids[j]))
                    scores_o.append(_round_half_up6(float(row[j])))
                    rns_o.append(rn)
        return qids_o, nids_o, scores_o, rns_o

    return single_task(
        tagged, body, f"query_id {idt}, neighbor_id {idt}, score double, rn int"
    )


def _knn_pq_local(
    emb: DataFrame,
    k: int,
    m: int,
    n_codes: int,
    n_queries: int,
    dim: int,
    rerank_k: int | None = None,
) -> DataFrame:
    """Single-task PQ ADC scan (and, with ``rerank_k``, the exact
    cosine re-rank of the shortlist) for a corpus known to fit one
    executor (gated by :func:`knn_pq` / :func:`knn_pq_rerank`). One
    Spark job replaces the ~10-job encode/LUT/ADC/window/rerank chain.
    All PQ arithmetic is the same exact int64 fixed-point grid as the
    distributed plan (order-free sums), the re-rank cosine is the
    identical left fold (:func:`_fold_scores` per shortlist pair), and
    the dim gate fires with the distributed plan's message and timing
    (execution, not build)."""
    sub_d = dim // m
    idt = emb.schema["vec_id"].dataType.simpleString()
    v = emb.select(F.col("vec_id").alias("vid"), as_double("embedding").alias("v"))
    gate_msg = f"knn_pq: dim={dim} does not match embedding length "
    out_t = "double" if rerank_k is not None else "bigint"
    score_col = "score" if rerank_k is not None else "dist2"

    def body(t):
        import numpy as np

        qids_o, nids_o, sc_o, rns_o = [], [], [], []
        vids = t.column("vid").to_numpy(zero_copy_only=False).astype(np.int64)
        V = _vec_matrix(t.column("v"), dim=dim, gate_msg=gate_msg)
        X = np.floor(V * float(GRID_SCALE)).astype(np.int64)
        cb_m = np.flatnonzero(vids < n_codes)
        cb_m = cb_m[np.argsort(vids[cb_m], kind="stable")]
        q_m = np.flatnonzero(vids < n_queries)
        c_m = np.flatnonzero(vids >= n_queries)
        if len(cb_m) and len(q_m) and len(c_m):
            CB = X[cb_m].reshape(len(cb_m), m, sub_d)
            XC = X[c_m].reshape(len(c_m), m, sub_d)
            XQ = X[q_m].reshape(len(q_m), m, sub_d)
            # encode: per (corpus row, subspace) the argmin code;
            # codebook rows sorted by code id so first-min == lowest
            codes = np.empty((len(c_m), m), np.int64)
            lut = np.empty((len(q_m), m, len(cb_m)), np.int64)
            for s in range(m):
                dc = XC[:, s, None, :] - CB[None, :, s, :]
                codes[:, s] = np.argmin(
                    np.einsum("ijk,ijk->ij", dc, dc), axis=1
                )
                dq = XQ[:, s, None, :] - CB[None, :, s, :]
                lut[:, s, :] = np.einsum("ijk,ijk->ij", dq, dq)
            adc = np.zeros((len(q_m), len(c_m)), np.int64)
            for s in range(m):
                adc += lut[:, s, :][:, codes[:, s]]
            cids = vids[c_m]
            for qi, qrow in enumerate(q_m):
                qid = int(vids[qrow])
                order = np.lexsort((cids, adc[qi]))[:k]
                if rerank_k is None:
                    for rn, j in enumerate(order, start=1):
                        qids_o.append(qid)
                        nids_o.append(int(cids[j]))
                        sc_o.append(int(adc[qi, j]))
                        rns_o.append(rn)
                else:
                    cand = c_m[order]
                    scores = _fold_scores(V[qrow : qrow + 1], V[cand])[0]
                    top = np.lexsort((vids[cand], -scores))[:rerank_k]
                    for rn, j in enumerate(top, start=1):
                        qids_o.append(qid)
                        nids_o.append(int(vids[cand[j]]))
                        sc_o.append(_round_half_up6(float(scores[j])))
                        rns_o.append(rn)
        return qids_o, nids_o, sc_o, rns_o

    return single_task(
        v, body, f"query_id {idt}, neighbor_id {idt}, {score_col} {out_t}, rn int"
    )


#: Row ceiling under which :func:`kcenter_greedy` runs its k selection
#: rounds as ONE single-task executor kernel instead of k sequential
#: TakeOrdered driver round-trips. 250k rows x 64 int64 dims is ~128 MB
#: of numpy — comfortably inside an executor; above it the distributed
#: per-round scan loop runs unchanged (the 100 TB path). The arithmetic
#: is exact int64 on the fixed-point grid either way, so the two paths
#: are equal by construction (pinned in tests/test_llm_ops.py).
LOCAL_KCENTER_ROWS = 250_000


def _kcenter_local(v: DataFrame, k: int) -> DataFrame:
    """Single-task greedy k-center over the quantized vector frame
    ``v = (vec_id bigint, x array<bigint>)`` — same seed (smallest
    salted md5, vec_id tiebreak), same exact-integer distances, same
    argmax tiebreaks as the distributed round loop in
    :func:`kcenter_greedy`; one Spark job instead of ``k`` driver
    round-trips whose cost at this size is job-dispatch latency
    (guide §1.2)."""

    def body(t):
        import numpy as np

        out: list[tuple[int, int, int]] = []
        ids = t.column("vec_id").to_numpy(zero_copy_only=False)
        X = _vec_matrix(t.column("x"), dtype="int64")
        # seed: smallest (h, vec_id) — ORDER BY h, vec_id LIMIT 1
        s = int(np.lexsort((ids, _seed_hashes("kc", ids)))[0])
        out.append((0, int(ids[s]), 0))
        alive = np.ones(len(ids), dtype=bool)
        alive[s] = False
        diff = X - X[s]
        mind = np.einsum("ij,ij->i", diff, diff)
        for r in range(1, k):
            if not alive.any():
                break
            # argmax mind, ties to the smallest vec_id (DESC mind,
            # ASC vec_id LIMIT 1 over the not-picked pool)
            mx = mind[alive].max()
            cand = alive & (mind == mx)
            far = int(np.flatnonzero(cand)[np.argmin(ids[cand])])
            out.append((r, int(ids[far]), int(mind[far])))
            alive[far] = False
            diff = X - X[far]
            mind = np.minimum(mind, np.einsum("ij,ij->i", diff, diff))
        return list(zip(*out))

    return single_task(v, body, "sel_order INT, vec_id BIGINT, radius2 BIGINT")


def kcenter_greedy(
    emb: DataFrame,
    k: int = 8,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal);
    returns the k selected rows as (sel_order, vec_id, radius2).

    The classic coreset / data-pruning recipe (Gonzalez 1985; Sener &
    Savarese 2018 for training-set selection): start from a seed, then
    repeatedly pick the point FARTHEST from the selected set — the
    resulting radius2 sequence is the (squared) covering radius after
    each pick, and the selected points are a 2-approximation of the
    optimal k-center cover.

    Cross-engine determinism follows `kmeans_fixed_point`'s recipe:
    fixed-point integer coordinates (:func:`grid`) so every
    distance is an exact BIGINT; seed = smallest salted md5; all
    argmax ties break on vec_id.

    Scale shape: k rounds, each one corpus scan with a pure
    column-expression distance chain (the <=k selected centers are
    embedded as dim-length array LITERALS — k*dim constants, no join,
    no shuffle) reduced by orderBy+limit(1) = TakeOrdered. No
    corpus-grain window, no corpus-sized collect — the driver holds
    only the k selected vectors. Total cost: k scans; at 100 TB the
    incremental min-distance would be persisted between rounds instead
    of recomputed, leaving one scan per round either way.
    """
    v = emb.select(F.col("vec_id").cast("bigint").alias("vec_id"), grid().alias("x"))
    # Size gate: within LOCAL_KCENTER_ROWS the greedy rounds run as one
    # task.
    if fits(LOCAL_KCENTER_ROWS, corpus_rows, v):
        return _kcenter_local(v, k)

    def d2_to(center: list) -> Column:
        return int_d2("x", F.array(*[F.lit(int(c)) for c in center]))

    h = md5_int60(F.concat(F.lit("kc|"), F.col("vec_id").cast("string")))
    seed_rows = v.withColumn("h", h).orderBy("h", "vec_id").limit(1).collect()
    picked: list[tuple[int, int, int]] = []
    if seed_rows:
        seed = seed_rows[0]
        picked.append((0, int(seed.vec_id), 0))
        mind = d2_to(list(seed.x))
        for r in range(1, k):
            # Exclude already-picked ids and stop when the pool runs dry
            # (k > number of vectors): otherwise the argmax re-picks a
            # center with mind=0. The exclusion list is <= k ids, a plan
            # literal like the centers.
            far_rows = (
                v.filter(~F.col("vec_id").isin([p[1] for p in picked]))
                .select("vec_id", "x", mind.alias("mind"))
                .orderBy(F.desc("mind"), F.asc("vec_id"))
                .limit(1)
                .collect()
            )
            if not far_rows:
                break
            far = far_rows[0]
            picked.append((r, int(far.vec_id), int(far.mind)))
            mind = F.least(mind, d2_to(list(far.x)))
    return emb.sparkSession.createDataFrame(
        picked, "sel_order INT, vec_id BIGINT, radius2 BIGINT"
    )


def _mmr_greedy(ids, rel, X, k: int, lam: float):
    """The MMR rounds over a candidate pool, one row per candidate:
    ``ids`` (int64), ``rel`` (the 6dp-rounded relevance) and the vectors
    ``X``. Round 0 picks the largest ``rel``; every later round the
    largest ``lam*rel - (1-lam)*maxs``, where ``maxs`` folds with
    np.maximum the HALF_UP 6dp-rounded left-fold cosine
    (:func:`_fold_scores`) of each candidate to every pick so far; ties
    go to the smaller id. Stops after ``k`` picks or when the pool runs
    dry. Returns the (sel_order, vec_id, relevance, mmr) columns, None
    for no pick. The rounded inputs are what the chained-CTE oracle
    consumes, so both engines pick identical argmaxes."""
    import numpy as np

    rows = []
    alive = np.ones(len(ids), bool)
    maxs = None
    for r in range(min(k, len(ids))):
        mmr = rel if r == 0 else lam * rel - (1.0 - lam) * maxs
        ai = np.flatnonzero(alive)
        pick = ai[np.lexsort((ids[ai], -mmr[ai]))[0]]
        rows.append((r, int(ids[pick]), float(rel[pick]), float(mmr[pick])))
        alive[pick] = False
        sims = _fold_scores(X[pick][None, :], X)[0]
        srnd = np.array([_round_half_up6(float(s)) for s in sims])
        maxs = srnd if maxs is None else np.maximum(maxs, srnd)
    return list(zip(*rows)) if rows else None


_MMR_SCHEMA = "sel_order int, vec_id bigint, relevance double, mmr double"


def _mmr_rerank_local(
    emb: DataFrame, query_vec_id: int, k: int, pool: int, lam: float
) -> DataFrame:
    """Single-task MMR re-rank for a corpus known to fit one executor
    (``<= LOCAL_KNN_ROWS`` rows — gated by :func:`mmr_rerank`): the
    candidate stage and :func:`_mmr_greedy` in one Spark job. The
    candidate stage is knn_bruteforce's: top-``pool`` by the unrounded
    left-fold cosine (desc, asc id), relevance rounded HALF_UP to 6dp.
    Equality with the distributed branch is pinned by
    tests/test_local_kernels.py and the chained CTE oracle."""

    def body(t):
        import numpy as np

        vids = t.column("vid").to_numpy(zero_copy_only=False).astype(np.int64)
        V = _vec_matrix(t.column("v"))
        qm = np.flatnonzero(vids == query_vec_id)
        cm = np.flatnonzero(vids > query_vec_id)
        if not (len(qm) and len(cm)):
            return None
        scores = _fold_scores(V[qm][:1], V[cm])[0]
        cids = vids[cm]
        order = np.lexsort((cids, -scores))[:pool]
        rel = np.array([_round_half_up6(float(s)) for s in scores[order]])
        return _mmr_greedy(cids[order], rel, V[cm][order], k, lam)

    feed = emb.select(
        F.col("vec_id").alias("vid"), as_double("embedding").alias("v")
    )
    return single_task(feed, body, _MMR_SCHEMA)


def mmr_rerank(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily select k of the top-`pool` relevance candidates,
    each round maximizing lam*relevance - (1-lam)*max_sim_to_selected.
    Returns (sel_order, vec_id, relevance, mmr).

    The distributed stage is candidate generation — `knn_bruteforce`
    over the full corpus (one scan, per-query top-k window). Its
    ``pool`` rows are localCheckpoint'ed once, and the k rounds
    (:func:`_mmr_greedy`) run in one ``single_task`` over that
    checkpoint: ``pool`` bounds the task at any corpus size, and the job
    count does not grow with k.

    Determinism: relevance is the 6dp-rounded knn score; every
    similarity-to-selected is 6dp-rounded before the max-fold, so the
    mmr expression consumes only rounded inputs and both engines pick
    identical argmaxes (vec_id tiebreaks). The oracle chains the same
    rounds as CTEs with a cumulative exclusion per round.
    """
    # Size gate: within LOCAL_KNN_ROWS the candidate knn and the greedy
    # rounds run as one task.
    if fits(LOCAL_KNN_ROWS, corpus_rows, emb):
        return _mmr_rerank_local(emb, query_vec_id, k, pool, lam)
    q = emb.filter(F.col("vec_id") == query_vec_id)
    c = emb.filter(F.col("vec_id") > query_vec_id)
    cand = knn_bruteforce(q, c, k=pool)
    px = emb.select("vec_id", as_double("embedding").alias("x"))
    # The eager checkpoint keeps the corpus scan out of the one task:
    # coalesce(1) over the uncheckpointed pool would pull it in.
    pool_df = (
        cand.select(F.col("neighbor_id").alias("vec_id"), F.col("score").alias("rel"))
        .join(px, "vec_id")
        .localCheckpoint(eager=True)
    )

    def body(t):
        import numpy as np

        ids = t.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
        rel = t.column("rel").to_numpy(zero_copy_only=False)
        return _mmr_greedy(ids, rel, _vec_matrix(t.column("x")), k, lam)

    return single_task(pool_df, body, _MMR_SCHEMA)
