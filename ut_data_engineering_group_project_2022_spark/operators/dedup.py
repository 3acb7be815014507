"""Document deduplication operators for large-scale training-data pipelines.

Four families, all pure DataFrame compositions (no Python UDFs, no
driver-side loops — every stage is a distributed shuffle/join):

  * exact:    hash-groupBy on raw text (one shuffle on a 128-bit key);
  * n-gram Jaccard: exact pairwise similarity on k-word shingles — the
    quadratic *baseline* used to verify the sub-quadratic paths;
  * MinHash + LSH: shingle -> 32 minhash permutations -> 8 bands x 4 rows
    -> band-bucket self-join. At 100 TB the band join only pairs documents
    sharing a bucket, replacing the O(n^2) cross join with a skew-aware
    equi-join on (band, signature);
  * SimHash: 48-bit fingerprints; near-dup = small Hamming distance.

All hashing is the md5-based 60-bit primitive (functions/text.py) so the
DuckDB oracle can replicate results bit-for-bit. Permutation params are
(a_i, b_i) = (2i+3, 1000003*i mod p), p = 2^31 - 1; products stay within
int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.operators import (
    column_list,
    fits,
    single_task,
)
from ut_data_engineering_group_project_2022_spark.functions.text import (
    HASH_P,
    md5_int60,
    tokens,
    word_shingles,
)

N_PERM = 32
BAND_ROWS = 4
SIMHASH_BITS = 48


def shingle_docs(docs: DataFrame, k: int = 3) -> DataFrame:
    """doc_id + distinct k-word shingle array.

    Repartitions the scan first: document corpora typically arrive as few
    fat files, and everything downstream (shingle explode, hashing, LSH)
    is CPU-bound per row — without this the whole pipeline runs on one
    task per input file. The repartition key is doc_id (not round-robin):
    the cache preserves hash(doc_id), the downstream explode keeps it,
    and the minhash groupBy(doc_id) — whose input, the exploded shingle
    stream, is the pipeline's largest intermediate — then aggregates in
    place with NO shuffle.

    The result is cached: every consumer (signature build, both sides of
    the exact-Jaccard verify) reuses it, and the cache is also a plan
    barrier — without it Spark's InferFiltersFromGenerate re-evaluates
    the full shingle expression inside a filter pushed below the
    repartition (single-partition, twice per row; observed 5x slowdown).
    At 100 TB this would be persist(DISK_ONLY) or a checkpoint table.
    """
    return (
        docs.repartition("doc_id")
        .select("doc_id", word_shingles("text", k).alias("shingles"))
        .cache()
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct text with keeper id + copy count."""
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def pairwise_jaccard(shingled: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact all-pairs shingle Jaccard (quadratic baseline; verification oracle)."""
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        pairs.filter((F.size("sh_a") > 0) & (F.size("sh_b") > 0))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _perm_params(n_perm: int) -> list[tuple[int, int]]:
    """(a_i, b_i) = (2i+3, 1000003*i mod p) — mirrored in the oracle SQL."""
    return [(2 * i + 3, (i * 1_000_003) % HASH_P) for i in range(n_perm)]


def minhash_signatures(shingled: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """Wide signature matrix: (doc_id, m0..m{n-1}).

    One shuffle total: explode shingles, hash once, then a single
    groupBy(doc_id) computing all permutations as parallel MIN aggregates
    (map-side partial-agg friendly). This avoids the naive n_perm-way row
    blowup — at 100 TB the exploded shingle stream is already the largest
    intermediate, so multiplying it by 32 would dominate the job.
    """
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("s")
    ).withColumn("h", md5_int60("s") % F.lit(HASH_P))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(HASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(n_perm))
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def band_signatures(
    signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Unpivot the wide signature matrix to (doc_id, band, bsig).

    Band signatures are built column-wise (concat of the band's minhash
    columns) and unpivoted with stack() — no shuffle; the downstream
    band equi-join is what hash-partitions."""
    n_bands = n_perm // band_rows
    band_cols = [
        F.concat_ws(
            "-", *[F.col(f"m{b * band_rows + r}") for r in range(band_rows)]
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    wide = signatures.select("doc_id", *band_cols)
    stack_expr = "stack({n}, {args}) as (band, bsig)".format(
        n=n_bands,
        args=", ".join(f"{b}L, band{b}" for b in range(n_bands)),
    )
    return wide.selectExpr("doc_id", stack_expr)


def lsh_candidate_pairs(
    signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Band the wide signature matrix; candidates share any (band, band-sig).

    Band signatures are built column-wise (concat of the band's minhash
    columns) and unpivoted with stack() — no second shuffle before the
    band self-join, which hash-partitions on the band signature (the
    equi-join Catalyst already knows how to distribute and AQE can
    skew-split if one bucket runs hot).
    """
    bandsig = band_signatures(signatures, n_perm, band_rows)
    a = bandsig.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("bsig").alias("bsig_a")
    )
    b = bandsig.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band_b"), F.col("bsig").alias("bsig_b")
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


#: Row ceiling for the single-task text-dedup kernels: below it a
#: corpus's whole shingle->minhash->band->verify pipeline is job-
#: dispatch-bound (13-18 Spark jobs of tens-of-ms stages at sf0.1), so
#: the full pass runs inside ONE task (``operators.single_task``);
#: above it the banded/bucketed distributed plans (the 100 TB shapes)
#: are unchanged.
#: 20k docs bounds the kernel at ~2M shingle hashes (~1-2 s one core).
LOCAL_DEDUP_DOCS = 20_000


def _shingle_set_py(text, k: int):
    """Python replica of word_shingles()'s JVM semantics, as a set.

    Set form is lossless here: every consumer is MIN-aggregate or
    array_intersect/size — set semantics. Parity notes (pinned by
    tests/test_local_kernels.py on real data AND a whitespace-edge
    synthetic): Spark lower->trim->split means ASCII-space-only trim,
    and F.split's default limit=-1 KEEPS leading and trailing empty
    tokens when the trimmed text starts/ends with \\t\\n\\x0b\\f\\r
    (unlike Java String.split) — Python re.split has exactly these
    semantics, including "" -> [""]. concat_ws keeps empty strings.
    NULL text -> size(NULL)=-1 -> empty shingles."""
    import re

    if text is None:
        return frozenset()
    s = text.lower().strip(" ")
    toks = re.split(r"[ \t\n\x0b\f\r]+", s)
    if len(toks) < k:
        return frozenset()
    return frozenset(
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    )


def _minhash_sigs_np(id_list, set_list, n_perm: int):
    """(ids_with_shingles, n x n_perm int64 signature matrix) via the
    exact md5_int60 % p hash and (a*h+b) % p permutation mins —
    integer-exact, so bit-parity with the JVM path is structural."""
    import hashlib

    import numpy as np

    params = _perm_params(n_perm)
    hash_cache: dict = {}

    def h_of(s: str) -> int:
        v = hash_cache.get(s)
        if v is None:
            v = int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % HASH_P
            hash_cache[s] = v
        return v

    keep_ids, offs, flat = [], [], []
    for did, ss in zip(id_list, set_list):
        if not ss:
            continue
        keep_ids.append(did)
        offs.append(len(flat))
        flat.extend(h_of(s) for s in ss)
    if not keep_ids:
        return [], np.empty((0, n_perm), np.int64)
    H = np.asarray(flat, np.int64)
    offsets = np.asarray(offs, np.int64)
    M = np.empty((len(keep_ids), n_perm), np.int64)
    for i, (a, b) in enumerate(params):
        M[:, i] = np.minimum.reduceat((a * H + b) % HASH_P, offsets)
    return keep_ids, M


def _band_keys(m):
    """The (band, BAND_ROWS-int signature tuple) keys of one signature
    row. Tuple equality == the JVM concat_ws('-') string equality
    (non-negative ints)."""
    return [
        (b, tuple(int(x) for x in m[b * BAND_ROWS : (b + 1) * BAND_ROWS]))
        for b in range(N_PERM // BAND_ROWS)
    ]


def _band_buckets(ids, M):
    """Band key (:func:`_band_keys`) -> member doc ids."""
    buckets: dict = {}
    for row, did in enumerate(ids):
        for key in _band_keys(M[row]):
            buckets.setdefault(key, []).append(did)
    return buckets


def _banded_jaccard_pairs(ids, sets):
    """[(doc_a, doc_b, jaccard)] for every pair (doc_a < doc_b) that
    shares a band bucket, with the exact shingle Jaccard as the
    distributed verify computes it (the same double division)."""
    keep_ids, M = _minhash_sigs_np(ids, sets, N_PERM)
    pairs = set()
    for members in _band_buckets(keep_ids, M).values():
        if len(members) > 1:
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    pairs.add((ms[i], ms[j]))
    setmap = dict(zip(ids, sets))
    out = []
    for a, b in pairs:
        sa, sb = setmap[a], setmap[b]
        inter = len(sa & sb)
        out.append((a, b, float(inter) / (len(sa) + len(sb) - inter)))
    return out


def _minhash_lsh_local(docs: DataFrame, k: int) -> DataFrame:
    """Single-task MinHash-LSH near-dup pass (shingle -> signatures ->
    band buckets -> exact-Jaccard verify) for a corpus known to fit one
    executor. Same integer hashes/permutations and the same double
    division as the distributed plan; pinned bit-equal at
    sf0.001/0.01/0.1 by tests/test_local_kernels.py."""
    idt = docs.schema["doc_id"].dataType.simpleString()

    def body(t):
        ids = column_list(t, "doc_id")
        sets = [_shingle_set_py(x, k) for x in column_list(t, "text")]
        pairs = _banded_jaccard_pairs(ids, sets)
        return list(zip(*pairs)) if pairs else None

    return single_task(
        docs.select("doc_id", "text"),
        body,
        f"doc_a {idt}, doc_b {idt}, jaccard double",
    )


def _incremental_neardup_local(
    tagged: DataFrame, k: int, min_jaccard: float
) -> DataFrame:
    """Single-task batch-vs-corpus near-dup check over the flag-tagged
    union of both sides (``__is_batch``). Same signatures/bands as the
    distributed plan; candidates are batch-band probes into the corpus
    band buckets; one output row per BATCH doc (empty-shingle batch
    docs included, as the distributed left join does)."""
    idt = tagged.schema["doc_id"].dataType.simpleString()

    def body(t):
        b_ids, b_sets, c_ids, c_sets = [], [], [], []
        for i, x, fb in zip(
            column_list(t, "doc_id"),
            column_list(t, "text"),
            column_list(t, "__is_batch"),
        ):
            if fb:
                b_ids.append(i)
                b_sets.append(_shingle_set_py(x, k))
            else:
                c_ids.append(i)
                c_sets.append(_shingle_set_py(x, k))
        kb, Mb = _minhash_sigs_np(b_ids, b_sets, N_PERM)
        kc, Mc = _minhash_sigs_np(c_ids, c_sets, N_PERM)
        c_buckets = _band_buckets(kc, Mc)
        b_setmap = dict(zip(b_ids, b_sets))
        c_setmap = dict(zip(c_ids, c_sets))
        matches: dict = {}
        for row, bid in enumerate(kb):
            cands = set()
            for key in _band_keys(Mb[row]):
                cands.update(c_buckets.get(key, ()))
            sa = b_setmap[bid]
            hits = []
            for cid in cands:
                sb = c_setmap[cid]
                inter = len(sa & sb)
                union = len(sa) + len(sb) - inter
                if union > 0 and float(inter) / union >= min_jaccard:
                    hits.append(cid)
            if hits:
                matches[bid] = (len(hits), min(hits))
        out_id, out_dup, out_n, out_m = [], [], [], []
        for bid in b_ids:
            hit = matches.get(bid)
            out_id.append(bid)
            out_dup.append(hit is not None)
            out_n.append(hit[0] if hit else 0)
            out_m.append(hit[1] if hit else None)
        return out_id, out_dup, out_n, out_m

    return single_task(
        tagged,
        body,
        f"doc_id {idt}, is_dup boolean, n_matches bigint, match_id {idt}",
    )


def curation_local(docs: DataFrame) -> DataFrame:
    """Single-task execution of the ENTIRE llm_curation_pipeline
    composition for a corpus known to fit one executor (gated by the
    query builder at ``LOCAL_DEDUP_DOCS``): exact-dup groups (md5,
    min-id keeper), the MinHash near-dup pass (same shingle/signature/
    band helpers as :func:`_minhash_lsh_local`, jaccard >= 0.8, doc_b
    drops), the quality score (same char-class counts, same float
    expression order, Spark HALF_UP rounding) and the \\bthe\\b-vs-\\ba\\b
    langid gate, with the distributed form's verdict precedence and
    three-valued ``keep``. Java and python regex agree on these ASCII
    patterns (``\\b`` is ASCII-word-boundary in both); parity is pinned
    at sf0.001/0.01/0.1 by tests/test_local_kernels.py. Above the gate
    the distributed composition runs unchanged."""
    from ut_data_engineering_group_project_2022_spark.operators.similarity import (
        _round_half_up6,
    )

    idt = docs.schema["doc_id"].dataType.simpleString()

    def body(tab):
        import hashlib
        import re

        ids = column_list(tab, "doc_id")
        texts = column_list(tab, "text")
        # -- exact-dup groups: md5 keeper = min doc_id; NULL text joins
        # nothing (NULL hash never equi-matches) --------------------------
        md5s = [
            None if t is None else hashlib.md5(t.encode()).hexdigest()
            for t in texts
        ]
        keeper: dict = {}
        for i, h in zip(ids, md5s):
            if h is not None and (h not in keeper or i < keeper[h]):
                keeper[h] = i
        exact_drop = {
            i for i, h in zip(ids, md5s) if h is not None and keeper[h] != i
        }
        # -- near-dup drop list: banded candidates, exact jaccard -------
        sets = [_shingle_set_py(t, 3) for t in texts]
        near_drop = {
            b for _, b, j in _banded_jaccard_pairs(ids, sets) if j >= 0.8
        }
        # -- quality + langid gates (same exprs as the standalone ops) --
        r_the = re.compile(r"\bthe\b")
        r_a = re.compile(r"\ba\b")
        r_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out_id, out_v, out_k, out_q = [], [], [], []
        for i, t in zip(ids, texts):
            if t is None or len(t) == 0:
                q = None
                en = None if t is None else False
            else:
                n = len(t)
                alpha = sum(
                    1 for c in t if "a" <= c <= "z" or "A" <= c <= "Z"
                )
                space = t.count(" ")
                ntok = len(r_ws.split(t.strip(" ")))
                low = t.lower()
                n_the = len(r_the.findall(low))
                n_a = len(r_a.findall(low))
                q = _round_half_up6(
                    0.5 * (alpha / n)
                    + 0.3 * (1 if 20 <= ntok <= 500 else 0)
                    + 0.2 * (1.0 - space / n)
                )
                en = n_the >= n_a and n_the > 0
            is_exact = i in exact_drop
            is_near = i in near_drop
            if is_exact:
                v = "exact_dup"
            elif is_near:
                v = "near_dup"
            elif q is not None and q < 0.5:
                v = "low_quality"
            elif en is False:  # when(~is_en): NULL is_en skips the branch
                v = "non_english"
            else:
                v = "kept"
            # three-valued AND: False wins, then NULL, else True
            terms = (not is_exact, not is_near, None if q is None else q >= 0.5, en)
            if any(x is False for x in terms):
                keep = False
            elif any(x is None for x in terms):
                keep = None
            else:
                keep = True
            out_id.append(i)
            out_v.append(v)
            out_k.append(keep)
            out_q.append(q)
        return out_id, out_v, out_k, out_q

    return single_task(
        docs.select("doc_id", "text"),
        body,
        f"doc_id {idt}, verdict string, keep boolean, quality_score double",
    )


def minhash_lsh_dedup(
    docs: DataFrame, k: int = 3, known_docs: int | None = None
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates + exact-Jaccard verify.

    The shingle set is consumed three times (signatures + both sides of
    the verify join) and the signature matrix twice (both sides of the
    band join) — cache both so the expensive shingle+md5 scan runs once.
    At cluster scale these are exactly the artifacts you'd persist
    between stages (signatures are |docs| x 33 ints, tiny next to the
    exploded shingle stream).

    Size-dispatched: when ``operators.fits`` proves the input within
    LOCAL_DEDUP_DOCS (``known_docs`` footer bound, else one bounded
    count) the whole pass runs as one single-task kernel; otherwise the
    distributed plan below runs."""
    if fits(LOCAL_DEDUP_DOCS, known_docs, docs):
        return _minhash_lsh_local(docs, k)
    shingled = shingle_docs(docs, k).cache()
    shingled.count()  # force: lazy cache would be raced by the join branches
    signatures = minhash_signatures(shingled).cache()
    signatures.count()
    cands = lsh_candidate_pairs(signatures)
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Materialize the (candidate-sized) verified pairs, then drop the
    # working caches — long sequential sessions must not accumulate heap.
    out = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard")
        )
        .localCheckpoint(eager=True)
    )
    shingled.unpersist()
    signatures.unpersist()
    return out


def simhash_fingerprints(docs: DataFrame, n_bits: int = SIMHASH_BITS) -> DataFrame:
    """48-bit SimHash per document over distinct whitespace tokens.

    Column-wise formulation: one groupBy(doc_id) with n_bits parallel
    SUM(sign-of-bit) aggregates, then the fingerprint assembled as a
    single expression — no n_bits-way row blowup of the token stream
    (same scale rationale as `minhash_signatures`).
    """
    # Partition by doc_id up front: explode preserves it, so BOTH the
    # (doc_id, token) distinct and the 48-aggregate groupBy(doc_id) run
    # in place — the token stream (the largest intermediate) is never
    # shuffled (hash(doc_id) satisfies each clustering as a subset).
    tok = (
        docs.repartition("doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("t"))
        .distinct()
        .withColumn("h", md5_int60("t"))
    )
    aggs = [
        F.sum(
            F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(n_bits)
    ]
    wide = tok.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for i in range(n_bits):
        fp = fp + F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0)
    return wide.select("doc_id", fp.alias("simhash48"))


def simhash_pairs_banded(
    fingerprints: DataFrame, max_hamming: int, n_bits: int = SIMHASH_BITS
) -> DataFrame:
    """Sub-quadratic SimHash near-dup pairs via pigeonhole banding.

    Split the ``n_bits`` fingerprint into ``max_hamming + 1`` bands: any
    pair within Hamming ``max_hamming`` must agree EXACTLY on at least
    one band (pigeonhole), so candidates are an equi-join on
    (band_idx, band_value) — the Manku/Chakrabarti near-duplicate web
    crawl design — then verified with the exact popcount. The result is
    therefore row-identical to :func:`simhash_pairs` at the same
    threshold (the oracle asserts this), without the O(n^2) self-join.

    Scale note: candidate volume ~ n_bands * n^2 / 2^band_bits, so the
    guarantee is only sub-quadratic for tight thresholds (band_bits =
    n_bits/(h+1) must stay large vs log2(n)). The loose h=14 baseline
    query keeps the all-pairs form for exactly this reason: 15 bands of
    3 bits would collide nearly every pair — at 14/48 the threshold sits
    inside the random-pair Hamming distribution and no guaranteed
    banding is sub-quadratic.

    Verification is FUSED into the band join: each banded row carries
    its 8-byte fingerprint, so the popcount filter kills false
    candidates in the join stage itself. The naive shape (candidate
    pairs -> distinct -> re-join fingerprints twice) shuffles the full
    candidate set — on near-dup-heavy corpora band values are skewed
    and candidates blow up far past n_bands*n^2/2^bits (13.9M pairs on
    the 5k-doc bench corpus); fusing cut the query 2.5x and at scale
    removes a candidate-sized shuffle entirely. The final dedup
    (a pair can match in several bands) runs on the verified set, which
    the Hamming threshold keeps near-dup-sized.
    """
    # Referenced four times below (class join x2, both expansion sides):
    # materialize once — in production this is the pre-built signature
    # table; recomputing the tokenize + 48-agg plan per reference is the
    # round-5 bench finding (3x the fingerprint cost for nothing).
    fingerprints = fingerprints.localCheckpoint(eager=True)
    # The band join runs on DISTINCT fingerprints (equivalence classes),
    # not documents: docs sharing a fingerprint are hamming-0 duplicates
    # of each other, so banding each copy multiplies candidate volume by
    # the square of the class size for nothing. On near-dup-heavy
    # corpora (the workload this operator exists for) exact copies are
    # common and the class table is much smaller than the corpus —
    # measured 2.1x fewer candidate pairs at sf0.1, and the doc-level
    # result is recovered exactly by (a) expanding verified CLASS pairs
    # through the class membership lists and (b) emitting intra-class
    # doc pairs directly (hamming 0 <= any threshold).
    ufp = fingerprints.select("simhash48").distinct()
    n_bands = max_hamming + 1
    widths = [
        n_bits // n_bands + (1 if b < n_bits % n_bands else 0)
        for b in range(n_bands)
    ]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"(simhash48 >> {offsets[b]}) & {(1 << widths[b]) - 1}"
                ).alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    banded = ufp.select("simhash48", F.explode(bands).alias("bv")).select(
        "simhash48",
        F.col("bv.band").alias("band"),
        F.col("bv.bval").alias("bval"),
    )
    ba = banded.select(F.col("simhash48").alias("fa"), "band", "bval")
    bb = banded.select(
        F.col("simhash48").alias("fb"),
        F.col("band").alias("band_b"),
        F.col("bval").alias("bval_b"),
    )
    class_pairs = (
        ba.join(
            bb,
            (F.col("band") == F.col("band_b"))
            & (F.col("bval") == F.col("bval_b"))
            & (F.col("fa") < F.col("fb")),
        )
        .withColumn("hamming", F.bit_count(F.expr("fa ^ fb")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("fa", "fb", "hamming")
        .distinct()
    )
    da = fingerprints.select(
        F.col("simhash48").alias("fa"), F.col("doc_id").alias("id_a")
    )
    db = fingerprints.select(
        F.col("simhash48").alias("fb"), F.col("doc_id").alias("id_b")
    )
    cross_class = (
        class_pairs.join(da, "fa")
        .join(db, "fb")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    intra_class = (
        da.join(
            db,
            (F.col("fa") == F.col("fb")) & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross_class.unionByName(intra_class)


def simhash_pairs(fingerprints: DataFrame, max_hamming: int) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash fingerprints.

    All-pairs form — the verification baseline for
    :func:`simhash_pairs_banded`, and the only complete path for loose
    thresholds (see the banding scale note there)."""
    # Both join sides derive from `fingerprints`; materialize it once or
    # the whole tokenize + 48-agg fingerprint plan evaluates twice. The
    # quadratic join runs on DISTINCT fingerprints (same class-level
    # restructure as the banded form): the all-pairs comparison count
    # drops by the squared dedup factor, and doc pairs are recovered
    # exactly via class expansion + intra-class emission.
    fingerprints = fingerprints.localCheckpoint(eager=True)
    ufp = fingerprints.select("simhash48").distinct()
    a = ufp.select(F.col("simhash48").alias("fa"))
    b = ufp.select(F.col("simhash48").alias("fb"))
    class_pairs = (
        a.join(b, F.col("fa") < F.col("fb"))
        .withColumn("hamming", F.bit_count(F.expr("fa ^ fb")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
    )
    da = fingerprints.select(
        F.col("simhash48").alias("fa"), F.col("doc_id").alias("id_a")
    )
    db = fingerprints.select(
        F.col("simhash48").alias("fb"), F.col("doc_id").alias("id_b")
    )
    cross_class = (
        class_pairs.join(da, "fa")
        .join(db, "fb")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    intra_class = da.join(
        db, (F.col("fa") == F.col("fb")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return cross_class.unionByName(intra_class)


def incremental_neardup(
    batch: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    min_jaccard: float = 0.8,
    known_docs: int | None = None,
) -> DataFrame:
    """Near-dup check of a NEW batch against an EXISTING corpus.

    The append-time dedup path of an ongoing ingestion pipeline: unlike
    the self-join form (minhash_lsh_dedup), the band join here is
    batch x corpus — candidate volume scales with the (small) batch, not
    the corpus, and the corpus side would be a pre-materialized
    signature table in production (signatures are |docs| x 33 ints; the
    expensive shingle pass over history runs once, not per batch).

    Returns one row per batch doc: ``(doc_id, is_dup, n_matches,
    match_id)`` with ``match_id`` = smallest verified corpus doc id
    (NULL when the doc is novel).

    """
    tagged = batch.select(
        "doc_id", "text", F.lit(True).alias("__is_batch")
    ).unionByName(
        corpus.select("doc_id", "text", F.lit(False).alias("__is_batch"))
    )
    # known_docs: caller-known upper bound on batch+corpus rows (footer
    # counts) — proves smallness with zero jobs, else one bounded count
    if fits(LOCAL_DEDUP_DOCS, known_docs, tagged):
        return _incremental_neardup_local(tagged, k, min_jaccard)
    sh_b = shingle_docs(batch, k).cache()
    sh_b.count()
    sh_c = shingle_docs(corpus, k).cache()
    sh_c.count()
    bands_b = band_signatures(minhash_signatures(sh_b)).select(
        F.col("doc_id").alias("batch_id"), "band", "bsig"
    )
    bands_c = band_signatures(minhash_signatures(sh_c)).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("band").alias("band_c"),
        F.col("bsig").alias("bsig_c"),
    )
    cands = (
        bands_b.join(
            bands_c,
            (F.col("band") == F.col("band_c")) & (F.col("bsig") == F.col("bsig_c")),
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    sa = sh_b.select(F.col("doc_id").alias("batch_id"), F.col("shingles").alias("sh_a"))
    sb = sh_c.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (
        cands.join(sa, "batch_id")
        .join(sb, "corpus_id")
        .filter((union > 0) & (inter / union >= F.lit(min_jaccard)))
        .select("batch_id", "corpus_id")
    )
    agg = verified.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_matches"), F.min("corpus_id").alias("match_id")
    )
    out = (
        batch.select("doc_id")
        .join(agg, batch.doc_id == agg.batch_id, "left")
        .select(
            "doc_id",
            F.col("match_id").isNotNull().alias("is_dup"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "match_id",
        )
    )
    out = out.localCheckpoint(eager=True)
    sh_b.unpersist()
    sh_c.unpersist()
    return out
