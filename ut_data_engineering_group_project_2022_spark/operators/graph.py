"""Graph analytics as iterative DataFrame programs (SURVEY G1-G9).

The reference delegates these to Neo4j GDS (ref dags/graph_queries.cyp);
here the property graph is plain vertex/edge DataFrames and the
algorithms are join/agg loops above Catalyst:

  * pagerank        — G2/G3/G5 (GDS default damping 0.85);
  * label_propagation — community detection stand-in for Louvain (G6),
                        synchronous updates with min-label tiebreak so the
                        result is deterministic;
  * betweenness_distributed — G7, Brandes as distributed frontier joins
                      (multi-source BFS forward, level-synchronous
                      dependency sweep back); exact from all roots,
                      landmark-sampled (Brandes–Pich n/k scaling) at
                      100 TB. betweenness_exact is the driver-side
                      small-graph oracle the tests pin it against;
  * bounded_reachability — J11 variable-length path expansion (`*1..k`)
                      as a bounded iterative frontier join.

The test graph derives from the star schema: an undirected bipartite
customer–supplier graph (edge iff a lineitem links them), node ids
prefixed 'c'/'s'.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.catalog import table
from ut_data_engineering_group_project_2022_spark.operators import fits, single_task


def customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed c->s edges with lineitem-count weight (SURVEY G1 projection).

    The groupBy on (src, dst) IS the graph-node/edge dedup: Cypher MERGE's
    create-only-if-absent collapses to build-time aggregation on the
    natural key (SURVEY D5/S8; ref api_to_neo4j.py:23-83); incremental
    append would anti-join on the same key."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # No broadcast hint: orders is FACT-sized, so the li-orders join must
    # stay a keyed shuffle join at scale (AQE still picks broadcast at
    # small SF where orders fits the threshold).
    # Group on the RAW INT keys and build the prefixed string ids AFTER
    # the aggregate (r19, guide §2.3 "shuffle fewer bytes"): the
    # pre-shuffle rows then carry two ints instead of two strings, and
    # the concat runs once per group instead of once per fact row. The
    # (custkey, suppkey) -> ('c..', 's..') map is injective, so the
    # groups — and therefore src/dst/weight — are unchanged. Measured
    # r19 at sf0.1: 1.16 -> 0.85 s warm for the projection noop.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            "weight",
        )
    )


def customer_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW ``(o_custkey, l_suppkey)`` int pairs — one row per lineitem
    fact, i.e. :func:`customer_supplier_edges` BEFORE its aggregate.

    Input of the single-task graph kernels through :func:`pair_feed`
    (guide §1.2/§2.4): below the size gates the projection's groupBy
    exchange, the string-id concat, and the localCheckpoint are pure
    overhead — the feed dedups/counts the int pairs in numpy (~tens of
    ms) and
    builds the namespaced node ids from the ~|V| DISTINCT keys instead
    of factorizing 2|E| strings through Arrow. Orders' two-column key
    projection is broadcast explicitly: callers only use this feed when
    a footer bound proves the fact table under LOCAL_MOVE_EDGES rows,
    so the broadcast is bounded by construction."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey).select(
        "o_custkey", "l_suppkey"
    )


def _pairs_dedup(t):
    """Arrow table ``(o_custkey, l_suppkey)`` -> (uc, us, w): DISTINCT
    int pairs in ascending (custkey, suppkey) order with multiplicity
    counts — the numpy twin of the projection's groupBy/count. Raises
    on NULL keys (the TPC-H non-null key contract the projection's
    string concat would silently NULL-collapse; cf. the q1 kernel's
    magnitude guard)."""
    import numpy as np

    ck_col, sk_col = t.column("o_custkey"), t.column("l_suppkey")
    if ck_col.null_count or sk_col.null_count:
        raise ValueError(
            "customer_supplier pairs contain NULL keys — the fused graph "
            "kernels assume the TPC-H non-null key contract"
        )
    ck = ck_col.to_numpy(zero_copy_only=False).astype(np.int64)
    sk = sk_col.to_numpy(zero_copy_only=False).astype(np.int64)
    if len(ck) == 0:
        e = np.empty(0, np.int64)
        return e, e, e
    cmax, smax = int(ck.max()), int(sk.max())
    if (
        int(ck.min()) < 0
        or int(sk.min()) < 0
        or cmax > ((2**63 - 1) - smax) // (smax + 1)
    ):
        # unpackable key space (the largest packed key
        # cmax * (smax + 1) + smax must fit int64): lexicographic sort
        # of the raw pairs
        order = np.lexsort((sk, ck))
        cs, ss = ck[order], sk[order]
        starts = np.flatnonzero(
            np.r_[True, (cs[1:] != cs[:-1]) | (ss[1:] != ss[:-1])]
        )
        w = np.diff(np.r_[starts, len(cs)]).astype(np.int64)
        return cs[starts], ss[starts], w
    key = ck * (smax + 1) + sk
    ukey, w = np.unique(key, return_counts=True)
    return ukey // (smax + 1), ukey % (smax + 1), w.astype(np.int64)


def _pair_codes(uc, us):
    """(s, d, names) for distinct int pairs: namespaced node ids
    ('c<k>' / 's<k>' — byte-identical to the projection's concat) in a
    lexicographically-sorted code space, built from the ~|V| DISTINCT
    keys. Python str sort == Spark UTF8 binary sort on these ASCII
    ids — the min-tiebreak invariant every numpy kernel relies on."""
    import numpy as np

    cu, su = np.unique(uc), np.unique(us)
    names = np.array(
        ["c%d" % x for x in cu.tolist()] + ["s%d" % x for x in su.tolist()],
        dtype=object,
    )
    order = np.argsort(names)
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    s = rank[np.searchsorted(cu, uc)]
    d = rank[len(cu) + np.searchsorted(su, us)]
    return s, d, names[order]


def _factorize_sorted_arrow(arrays):
    """Arrow-native factorization of one-or-more string arrays into a
    shared lexicographic code space (guide §4.2: keep bulk strings in
    Arrow buffers; only the ~|V| distinct names become Python objects).
    Returns (codes ndarray int64 over the concatenation, names object
    ndarray sorted ascending). Arrow's sort and Spark's UTF8String
    ordering are both binary byte order, and the node-id alphabet here
    is ASCII, so code order == the engine's string order — the
    min-tiebreak invariant."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    flat = pa.concat_arrays(
        [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays]
    )
    enc = pc.dictionary_encode(flat)
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = rank[enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    return codes, enc.dictionary.to_numpy(zero_copy_only=False)[order]


def edge_feed(mirror: bool = False):
    """Kernel feed for string-id edge rows: turns the input table of a
    single-task kernel (:func:`operators.single_task`) into code arrays
    ``(s, d, w, names)`` over a lexicographic code space, or None for an
    empty graph, for the numpy body of :func:`pagerank_local`,
    :func:`louvain_local` or :func:`cc_local`. Rows are read by
    POSITION: the two endpoints, then an optional integer weight
    (default 1). ``mirror=True`` means the rows are the DIRECTED list
    of an undirected graph: both orientations are added in memory (half
    the Arrow transfer) in ``[fwd, rev]`` order — the row order
    :func:`undirect`'s union produces through ``coalesce(1)``, so the
    ``np.add.at`` order that fixes PageRank's float bits is the same
    either way."""

    def feed(t):
        import numpy as np

        n = t.num_rows
        if not n:
            return None
        codes, names = _factorize_sorted_arrow([t.column(0), t.column(1)])
        s, d = codes[:n], codes[n:]
        if t.num_columns > 2:
            w = t.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
        else:
            w = np.ones(n, np.int64)
        if mirror:
            s, d, w = np.r_[s, d], np.r_[d, s], np.r_[w, w]
        return s, d, w, names

    return feed


def pair_feed(weighted: bool = False, min_weight: int = 1):
    """Kernel feed (see :func:`edge_feed`) for the RAW ``(o_custkey,
    l_suppkey)`` rows of :func:`customer_supplier_pairs`: the
    projection's groupBy runs in numpy (:func:`_pairs_dedup`), pairs
    seen fewer than ``min_weight`` times are dropped (the ``weight >=
    k`` thinning; nodes it isolates are absent, like the distributed
    base), and the namespaced ids are coded from the ~|V| surviving
    keys (:func:`_pair_codes`). ``weighted=True`` weights each pair by
    its multiplicity (the projection's lineitem count), else 1. The
    pairs form a simple undirected graph, so the feed always mirrors,
    in :func:`edge_feed`'s ``[fwd, rev]`` order."""

    def feed(t):
        import numpy as np

        uc, us, cnt = _pairs_dedup(t)
        keep = cnt >= min_weight
        if not keep.any():
            return None
        s, d, names = _pair_codes(uc[keep], us[keep])
        w = cnt[keep] if weighted else np.ones(len(s), np.int64)
        return np.r_[s, d], np.r_[d, s], np.r_[w, w], names

    return feed


def undirect(edges: DataFrame) -> DataFrame:
    """Union each edge with its reverse (GDS UNDIRECTED orientation).

    NOTE for callers on a computed projection: the union's two branches
    each evaluate ``edges`` — Spark does not common-subexpression a
    fact-join projection across union branches, so checkpoint the
    directed list first (:func:`materialized`) when it is expensive."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionAll(rev)


def materialized(edges: DataFrame) -> DataFrame:
    """Eagerly checkpoint a (typically projection-shaped) edge list so
    downstream double-readers (``undirect``'s union branches, the
    weighted fwd/rev union) evaluate the upstream join/aggregate once.
    The directed list is the SMALL form (half the undirected rows), so
    this is the cheapest point to cut the plan."""
    return edges.localCheckpoint(eager=True)


#: Node-count ceiling for the broadcast iteration kernels below. A rank/
#: label vector at this size is ~hundreds of MB serialized — the upper
#: edge of what a per-iteration executor broadcast can justify. Above
#: it the kernels switch to co-partitioned joins: the EDGE list (the
#: big side) stays cached in place and only the node-sized vector
#: shuffles per round, which is the classic Pregel-on-Spark shape.
BROADCAST_NODES = 10_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    broadcast_nodes: int = BROADCAST_NODES,
) -> DataFrame:
    """PageRank over a directed edge list; returns (node_id, pagerank).

    Iterative join-aggregate loop: contrib_i+1(v) = sum over in-edges of
    pr_i(u)/outdeg(u); pr_i+1 = (1-d)/N + d*contrib. Scores rounded to 6
    decimals at the end. The rank vector is eagerly localCheckpoint'ed
    every OTHER iteration (each round references pr once, so lineage
    grows linearly — truncating every second generation bounds plan
    depth at 2 while halving the blocking materialization jobs). The
    final round flows into the output projection and materializes once
    as the result checkpoint (required so the edge cache can be
    released before returning) — one job for final round + rounding +
    materialization.

    Join strategy is SIZE-GATED on the node count (the only quantity
    that decides broadcastability — edge count is irrelevant to the
    share vector's size): up to ``broadcast_nodes`` the edges are cached
    pre-partitioned by dst and the share vector is broadcast, making
    every iteration completely shuffle-free; above it the edges are
    cached pre-partitioned by src and the node-sized share vector
    shuffles to meet them (edges never re-shuffle), with the
    contribution aggregate's map-side combine bounding the dst shuffle.
    """
    # localCheckpoint(eager) instead of cache+count everywhere below: one
    # action materializes AND truncates the logical plan (cache keeps it),
    # so each checkpointed iteration schedules one job, not two —
    # measured 27% faster at sf0.1. No lazy-cache race is possible
    # (materialization is eager); the node-sized checkpoint blocks of
    # stale generations are released by the ContextCleaner once their
    # DataFrames go out of scope.
    # Materialize the edge projection ONCE, already hash(dst)-partitioned
    # (r7, the louvain recipe — the r6 shape checkpointed the edges and
    # then re-shuffled them into the partitioned cache, paying two full
    # edge materializations). dst is the small-graph choice: the
    # contribution aggregate then groups in place under the broadcast
    # join — zero shuffles per iteration. The node inventory + out-degree
    # fuse into one union-aggregate off the cached frame (dst rows
    # contribute 0 to the degree sum, so dst-only nodes appear with d=0);
    # no degree-annotated |E|-row edge list is ever materialized — the
    # per-iteration join attaches the NODE-sized share vector pr/d to the
    # raw edges instead.
    edp = edges.repartition("dst").persist()
    nd = (
        edp.select(F.col("src").alias("id"), F.lit(1).alias("c"))
        .unionAll(edp.select(F.col("dst").alias("id"), F.lit(0).alias("c")))
        .groupBy("id")
        .agg(F.sum("c").alias("d"))
        .localCheckpoint(eager=True)
    )
    n = nd.count()
    small = n <= broadcast_nodes
    if not small:
        # Large graphs (> broadcast_nodes): re-cache partitioned by src
        # (the join key) so each iteration moves only the node-sized
        # share vector, never the edges. Rare path; costs one extra edge
        # shuffle exactly when a per-iteration broadcast would not fit.
        old = edp
        edp = edp.repartition("src").persist()
        edp.count()
        old.unpersist()

    pr = nd.withColumn("pr", F.lit(1.0 / n))
    for i in range(iterations):
        share = pr.filter(F.col("d") > 0).select(
            F.col("id").alias("sid"), (F.col("pr") / F.col("d")).alias("s")
        )
        contrib = (
            edp.join(
                F.broadcast(share) if small else share,
                edp.src == F.col("sid"),
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("s").alias("contrib"))
        )
        pr = nd.join(contrib, "id", "left").select(
            "id",
            "d",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("pr"),
        )
        if i % 2 == 0 and i != iterations - 1:
            pr = pr.localCheckpoint(eager=True)
    out = pr.select(
        F.col("id").alias("node_id"), F.round("pr", 6).alias("pagerank")
    ).localCheckpoint(eager=True)
    edp.unpersist()
    return out


def _pagerank_np(s, d, n, iterations, damping):
    """The numpy PageRank loop of :func:`pagerank_local`: same per-edge
    contribution terms and ``(1-d)/n`` base as the distributed
    :func:`pagerank`."""
    import numpy as np

    deg = np.bincount(s, minlength=n)
    pr = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        share = np.where(deg > 0, pr / np.maximum(deg, 1), 0.0)
        contrib = np.zeros(n)
        np.add.at(contrib, d, share[s])
        pr = base + damping * contrib
    return pr


def pagerank_local(
    df: DataFrame, feed, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Single-task PageRank for a graph proven small. The arithmetic
    mirrors :func:`pagerank` term for term: the same ``(1-d)/n`` base,
    the same ``pr/d`` share and the same per-edge contribution terms. The only freedom is the double-summation order
    inside a node's contribution sum, which the distributed aggregate
    does not pin either; the feeds fix it to the ``[fwd, rev]`` input
    order. The final ROUND(pr, 6) stays a Spark expression, so rounding
    is byte-identical to the distributed form."""

    def body(s, d, w, names):
        return names, _pagerank_np(s, d, len(names), iterations, damping)

    out = single_task(
        df, lambda t: (g := feed(t)) and body(*g), "node_id string, pr double"
    )
    return out.select("node_id", F.round("pr", 6).alias("pagerank"))


def pagerank_sized(
    edges: DataFrame,
    n_rows: int,
    iterations: int = 3,
    damping: float = 0.85,
    mirror: bool = False,
) -> DataFrame:
    """Size-dispatched PageRank: callers that already know the edge-row
    count ``n_rows`` (e.g. from a materialized projection) route small
    graphs to :func:`pagerank_local` and everything else to the
    distributed loop. ``mirror=True`` means ``edges`` is the DIRECTED
    list of a simple undirected graph: the kernel mirrors it in memory
    (half the Arrow transfer) and the distributed path unions it."""
    if fits(LOCAL_MOVE_EDGES, n_rows):
        return pagerank_local(edges, edge_feed(mirror), iterations, damping)
    und = undirect(edges) if mirror else edges
    return pagerank(und, iterations=iterations, damping=damping)


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """Synchronous label propagation, min-label tiebreak (deterministic).

    Each node adopts the minimum of (its label, the minimum label among
    neighbors) per round — converges to connected-component-ish communities
    on this graph family; stand-in for Louvain (SURVEY G6 delta documented).
    """
    # Same eager-localCheckpoint iteration discipline as pagerank(): one
    # action per round, truncated plan, stale generations GC-released.
    # Same size-gated join strategy too: below BROADCAST_NODES the edges
    # are cached pre-partitioned by src (labels broadcast into the join,
    # the per-round neighbor-min aggregate groups in place on hash(src)
    # — no edge-sized shuffle per round); above it they are cached
    # pre-partitioned by dst (the join key), so only the node-sized
    # label vector shuffles per round.
    # Materialize the undirected projection ONCE, straight into the
    # hash(src)-partitioned cache (r7, the louvain/pagerank recipe —
    # checkpoint-then-repartition paid two full edge passes); the label
    # seed derives from the cache. The rare above-threshold path
    # re-caches by dst (the join key) exactly when a per-round label
    # broadcast would not fit.
    und = undirect(materialized(edges)).repartition("src").persist()
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    small = labels.count() <= BROADCAST_NODES
    if not small:
        old = und
        und = und.repartition("dst").persist()
        und.count()
        old.unpersist()
    for _ in range(max_iter):
        neighbor_min = (
            und.join(
                F.broadcast(labels) if small else labels,
                und.dst == labels.id,
            )
            .groupBy(F.col("src").alias("nid"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(neighbor_min, labels.id == F.col("nid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    und.unpersist()
    return labels.select(
        F.col("id").alias("node_id"), F.col("label").alias("community")
    )


_EVEN_HEX = ("0", "2", "4", "6", "8", "a", "c", "e")

#: Edge-row ceiling under which a graph algorithm runs as ONE
#: single-task kernel (:func:`pagerank_local`, :func:`louvain_local`,
#: :func:`cc_local`) instead of its distributed round loop — for the
#: whole program when the input proves small, and for Louvain's
#: contracted levels, which are community-sized, when only those do
#: (the classic hierarchical-Louvain design; GDS and GraphX coarsening
#: do the same). 2M edge rows of int64 code arrays sit comfortably
#: inside one executor.
LOCAL_MOVE_EDGES = 2_000_000


def _moves_py(
    wmap: dict[tuple[str, str], int], n_rounds: int
) -> dict[str, str]:
    """Pure-Python Louvain local-moving kernel over an in-memory
    weighted directed-row map (both orientations present; self-loop
    rows carry 2x internal weight — the :func:`_louvain_moves`
    representation). The local-moving step of :func:`louvain_exact`
    (the driver-side test oracle) and of :func:`louvain_local`'s
    overflow fallback — same singleton seed, integer gain score,
    min-label tiebreak, and md5-parity half-sweeps as the distributed
    round loop."""
    import hashlib

    k: dict[str, int] = {}
    for (u, _), ww in wmap.items():
        k[u] = k.get(u, 0) + ww
    two_m = sum(wmap.values())
    label = {v: v for v in k}
    parity = {
        v: hashlib.md5(v.encode()).hexdigest()[0] in _EVEN_HEX for v in k
    }
    nonself: dict[str, dict[str, int]] = {v: {} for v in k}
    for (u, v), ww in wmap.items():
        if u != v:
            nonself[u][v] = ww
    for r in range(n_rounds):
        sig: dict[str, int] = {}
        for v, lb in label.items():
            sig[lb] = sig.get(lb, 0) + k[v]
        new_label = dict(label)
        for v in k:
            if parity[v] != (r % 2 == 0):
                continue
            kin: dict[str, int] = {label[v]: 0}
            for u, ww in nonself[v].items():
                kin[label[u]] = kin.get(label[u], 0) + ww

            def score(c: str) -> int:
                return two_m * kin[c] - k[v] * (
                    sig[c] - (k[v] if c == label[v] else 0)
                )

            best_score = max(score(c) for c in kin)
            new_label[v] = min(c for c in kin if score(c) == best_score)
        label = new_label
    return label


def _hierarchy_py(
    wmap: dict[tuple[str, str], int], rounds: int, levels: int
) -> dict[str, str]:
    """Pure-Python Louvain LEVEL loop over an in-memory weighted
    directed-row map: local moves (:func:`_moves_py`), contract, move
    again — the full hierarchical program. Shared verbatim by
    :func:`louvain_exact` (driver-side test oracle) and the
    arbitrary-precision fallback of :func:`louvain_local`, so the two
    are equal by construction."""
    label = _moves_py(wmap, rounds)
    for _ in range(levels - 1):
        sup: dict[tuple[str, str], int] = {}
        for (u, v), ww in wmap.items():
            key = (label[u], label[v])
            sup[key] = sup.get(key, 0) + ww
        upper = _moves_py(sup, rounds)
        label = {v: upper[c] for v, c in label.items()}
        wmap = sup
    return label


#: Weight-total ceiling for the int64 vectorized kernel: the gain score
#: two_m*kin - k*sigma is bounded by two_m^2, so two_m beyond ~3e9 risks
#: int64 overflow; the arbitrary-precision dict kernel takes over there.
_NP_TWO_M_MAX = 3_000_000_000


def _group_sum_sorted(keys, ws, span):
    """Grouped int sums over integer ``keys`` (exclusive upper bound
    ``span``), returned as (ascending unique keys, per-key sums).

    Replaces the ``np.unique(return_inverse=True)`` + ``np.add.at``
    idiom — r20 profiling put that sort-plus-scatter at ~65% of the
    louvain hierarchy kernel. A STABLE integer argsort is numpy's radix
    sort; when the key space fits int32 it runs 4 byte-passes instead
    of the int64 quicksort-with-inverse, and the grouped sums become a
    single ``reduceat`` over the sorted run boundaries. Ascending key
    order is preserved (the min-tiebreak invariant callers rely on)."""
    import numpy as np

    order = np.argsort(
        keys.astype(np.int32) if span <= 2**31 else keys, kind="stable"
    )
    sk = keys[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    return sk[starts], np.add.reduceat(ws[order], starts)


def _moves_np(s, d, w, m, parity_even, rounds):
    """Vectorized (numpy int64) Louvain local-moving rounds over code
    arrays ``(s, d, w)`` in a lexicographically-ordered code space of
    size ``m`` (code order == node-id string order, so integer min
    tiebreaks reproduce the string min). Semantically identical to
    :func:`_moves_py` — same singleton seed, integer gain score,
    min-label tiebreak, md5-parity half-sweeps (``parity_even`` is the
    per-code parity vector) — pinned equal by tests/test_local_kernels
    and the unrolled SQL oracles. Duplicate (s, d) rows sum, mirroring
    the dict accumulation. Returns the per-code label array.

    r20: only the active half-sweep's nodes can move in a round, so the
    candidate scan is built from THEIR edges only (the discarded other
    half was pure waste — labels of non-movers are read, never written),
    and the per-round grouped kin sums run through
    :func:`_group_sum_sorted` (radix argsort + reduceat) instead of
    ``np.unique``. Scores are computed from the same pre-update label
    array as before, so the result is bit-identical."""
    import numpy as np

    k = np.zeros(m, np.int64)
    np.add.at(k, s, w)
    two_m = int(w.sum())
    label = np.arange(m, dtype=np.int64)
    ns = s != d  # self-loops move with the node: excluded from the scan
    s2, d2, w2 = s[ns], d[ns], w[ns]
    sel = parity_even[s2]
    halves = {
        True: (s2[sel], d2[sel], w2[sel], np.flatnonzero(parity_even)),
        False: (s2[~sel], d2[~sel], w2[~sel], np.flatnonzero(~parity_even)),
    }
    for r in range(rounds):
        sig = np.zeros(m, np.int64)
        np.add.at(sig, label, k)
        ss, dd, ww, own = halves[r % 2 == 0]
        if not len(own):
            continue
        # candidate (node, community) kin sums for the moving half:
        # neighbor rows + a zero-kin own-community row per node (the
        # distributed union)
        keys = np.concatenate([ss * m + label[dd], own * m + label[own]])
        ws = np.concatenate([ww, np.zeros(len(own), np.int64)])
        uk, kin = _group_sum_sorted(keys, ws, m * m)
        u = uk // m
        c = uk % m
        score = two_m * kin - k[u] * (
            sig[c] - np.where(c == label[u], k[u], 0)
        )
        # grouped argmax with min-c tiebreak: keys are sorted, so within
        # each u group c ascends — the first index attaining the group
        # max carries the smallest c
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        counts = np.diff(np.r_[starts, len(u)])
        gmax = np.repeat(np.maximum.reduceat(score, starts), counts)
        idx = np.arange(len(u), dtype=np.int64)
        pos = np.where(score == gmax, idx, len(u))
        win = np.minimum.reduceat(pos, starts)
        # every group head is a mover by construction (the candidate
        # scan only contains active-parity nodes); all reads of `label`
        # above used the pre-round array, so in-place assignment keeps
        # the synchronous-update semantics
        label[u[starts]] = c[win]
    return label


def _hierarchy_np(s, d, w, names, rounds, levels):
    """Vectorized level loop: local moves, contract, recurse — the
    numpy twin of :func:`_hierarchy_py` over code arrays. ``names`` is
    the SORTED node-id array (so code order == string order at every
    level; contraction keeps the invariant because the surviving
    community codes are taken in ascending order). Returns
    (per-original-node community codes, community name array)."""
    import hashlib

    import numpy as np

    total = None
    for lvl in range(levels):
        m = len(names)
        parity_even = np.fromiter(
            (
                hashlib.md5(x.encode()).hexdigest()[0] in _EVEN_HEX
                for x in names
            ),
            dtype=bool,
            count=m,
        )
        label = _moves_np(s, d, w, m, parity_even, rounds)
        total = label if total is None else label[total]
        if lvl == levels - 1:
            break
        cs, cd = label[s], label[d]
        # r20: presence mask instead of a 2|E|-element unique sort, and
        # the contraction's weight sums through the shared radix-argsort
        # grouped sum — both preserve ascending code order exactly.
        present = np.zeros(m, bool)
        present[cs] = True
        present[cd] = True
        uniq = np.flatnonzero(present)
        remap = np.zeros(m, np.int64)
        remap[uniq] = np.arange(len(uniq))
        mm = len(uniq)
        keys = remap[cs] * mm + remap[cd]
        uk, w2 = _group_sum_sorted(keys, w, mm * mm)
        s, d, w = uk // mm, uk % mm, w2
        names = names[uniq]
        total = remap[total]
    return total, names


def louvain_local(
    df: DataFrame, feed, rounds: int = 4, levels: int = 2
) -> DataFrame:
    """Single-task hierarchical Louvain for a graph proven small: every
    level's local-moving rounds AND contractions run in memory, one
    Spark job instead of ``levels`` x (``rounds`` checkpoint jobs +
    contraction jobs). The feed's rows are summed per
    (src, dst), exactly like ``louvain_exact``'s loader. The int64
    kernel :func:`_hierarchy_np` runs unless ``2m`` exceeds
    ``_NP_TWO_M_MAX``, where its gain scores could overflow; then the
    arbitrary-precision dict kernel :func:`_hierarchy_py` (the oracle's
    own) takes over. Returns (node_id, community)."""

    def body(s, d, w, names):
        if int(w.sum()) > _NP_TWO_M_MAX:
            names_py = names.tolist()
            wmap: dict[tuple[str, str], int] = {}
            for u, v, ww in zip(s.tolist(), d.tolist(), w.tolist()):
                key = (names_py[u], names_py[v])
                wmap[key] = wmap.get(key, 0) + ww
            label = _hierarchy_py(wmap, rounds, levels)
            return list(label), list(label.values())
        total, cnames = _hierarchy_np(s, d, w, names, rounds, levels)
        return names, cnames[total]

    return single_task(
        df,
        lambda t: (g := feed(t)) and body(*g),
        "node_id string, community string",
    )


def _louvain_moves(und_w: DataFrame, rounds: int) -> DataFrame:
    """Weighted modularity-gain local-moving rounds (the Louvain phase-1
    kernel, shared by every level of :func:`louvain`).

    ``und_w`` is a weighted undirected graph as DIRECTED rows
    ``(src, dst, w)`` with both orientations present, where a self-loop
    row ``(c, c, w)`` carries ``w = 2 x internal edge weight`` — under
    that representation a plain ``SUM(w)`` per ``src`` IS the weighted
    degree, and ``SUM(w)`` over all rows is ``2m``, with no special
    casing. Self-loops are excluded from the neighbor-community scan
    (they move with the node, adding equal gain to every candidate).

      * singleton seed — every node starts as its own community (the
        Louvain init; a min-label-propagation seed would collapse each
        connected component to one community on this graph family,
        leaving no neighbor community to move to);
      * per round, a node may move to the neighbor community maximizing
        the modularity gain.  Gain comparisons use the integer score
        ``2m * k_iC - k_i * sigma_tot(C \\ i)`` (gain * (2m)^2 with
        constant terms dropped; weights here are integer edge counts)
        so the argmax is exact — no float ties to diverge cross-engine.
        Ties break to the minimum community label;
      * only half the nodes (md5-parity, alternating per round) may
        move each round.  Synchronous all-node updates oscillate on
        symmetric structures (a<->b adopt each other forever); the
        parity gate DAMPS rather than eliminates that (two same-parity
        neighbors can still swap within a round) — what it guarantees
        is determinism; the fixed round count bounds any residual
        swapping.

    No global window, no driver-side graph; the label vector is
    localCheckpoint'ed per round (it is referenced ~5 times per round,
    so lineage would otherwise grow geometrically). The weighted degree
    ``k`` rides INSIDE the label vector (r6: one node-sized column
    instead of a nodes join in both the sigma aggregate and the score
    join — two joins fewer per round). Join strategy is size-gated as
    in :func:`pagerank`: below ``BROADCAST_NODES`` the edge stream is
    read in place hash(src)-partitioned and the label/sigma vectors
    broadcast, making each round's edge pass shuffle-free; above it the
    edges are re-cached hash(dst)-partitioned (the label-join key) and
    only node-sized vectors shuffle per round. Returns (id, label).

    CALLER CONTRACT (r7): ``und_w`` must arrive hash(src)-partitioned
    and persisted — :func:`_louvain_hierarchy` materializes exactly one
    such frame per level and reuses it for the contraction, so the edge
    list is shuffled+cached once per level instead of checkpointed and
    then re-shuffled (the r6 shape paid two full edge materializations
    at level 1). The weighted-degree aggregate and every round's
    candidate/argmax aggregates all run shuffle-free off that one
    cached frame: Project/BroadcastHashJoin preserve the hash(src)
    partitioning through the id alias, and HashPartitioning(id)
    satisfies the grouping distribution of both groupBy(id, cand) and
    groupBy(id). persist(), NOT localCheckpoint, is required:
    LogicalRDD drops outputPartitioning (verified — the checkpoint form
    re-adds an ENSURE_REQUIREMENTS exchange), while InMemoryRelation
    reports the cached plan's partitioning.
    """
    # deg is shuffle-free: und_w is hash(src)-partitioned (see contract).
    deg = und_w.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))
    # labels carries (id, label, k) throughout — k is immutable.
    labels = deg.select("id", F.col("id").alias("label"), "k").localCheckpoint(
        eager=True
    )
    # 2m = sum of all edge weights = sum of weighted degrees: read it
    # off the node-sized label vector in the same action as the node
    # count instead of a second pass over the edge list (r7).
    n_nodes, two_m = labels.agg(F.count(F.lit(1)), F.sum("k")).first()
    even = F.substring(F.md5(F.col("id")), 1, 1).isin(*_EVEN_HEX)
    small = n_nodes <= BROADCAST_NODES
    # Large graphs (> BROADCAST_NODES, where a per-round label broadcast
    # would not fit an executor): re-partition by dst — the label join's
    # key — so each round shuffles only the node-sized label vector and
    # the partially-aggregated candidate stream, never the raw edges.
    if small:
        nonself = und_w.filter(F.col("src") != F.col("dst"))
    else:
        nonself = (
            und_w.filter(F.col("src") != F.col("dst"))
            .repartition("dst")
            .persist()
        )
        nonself.count()

    def _bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    for r in range(rounds):
        sig = labels.groupBy("label").agg(F.sum("k").alias("sig"))
        # Per-node candidate-community scan over NEIGHBOR communities
        # only. The node's own community enters as a NODE-sized zero-kin
        # union AFTER this edge-sized aggregate (the block below) — it
        # rides the same argmax as the neighbor candidates. Only the
        # r5 dead end unioned edge-sized zero rows BEFORE the aggregate,
        # which erased the partitioning and forced an extra edge-sized
        # shuffle; the post-aggregate union is node-sized and free.
        nbr_rows = nonself.join(
            _bcast(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("cand")
                )
            ),
            "dst",
        ).select(F.col("src").alias("id"), "cand", F.col("w").alias("kin"))
        cand = nbr_rows.groupBy("id", "cand").agg(F.sum("kin").alias("kin"))
        # Zero-kin own-community rows ride the SAME argmax as the
        # neighbor candidates (r9, the verdict's fold-own-into-scored
        # ask): one node-sized union AFTER the edge-sized aggregate —
        # not the r5 dead end, which unioned edge-sized zero rows
        # BEFORE it — replaces the separate own-score frame and the
        # own LEFT JOIN best per round. The own row's score works out
        # to -k*(sigma(own)-k) via the cand==label branch below, the
        # exact own_ns the r8 two-frame comparison used, and the
        # struct-min tiebreak (score DESC, cand ASC) reproduces its
        # move-iff-strictly-better-or-smaller-label rule bit-for-bit
        # (labels verified unchanged by the oracle-parity tests).
        # Measured r9, interleaved same-minute A/B at sf0.1 (3 passes
        # per arm): warm medians 8.09 s folded vs 7.92 s two-frame — a
        # wash within host noise. Kept for the structural win (one
        # fewer node-sized join and sig reference per round, which is
        # what matters on a real cluster); with this last lever
        # measured neutral, the ≤6 s stretch target is closed as
        # unreachable on local[32] — per-round job latency dominates.
        cand = cand.unionByName(
            labels.select(
                "id",
                F.col("label").alias("cand"),
                F.lit(0).cast(dict(cand.dtypes)["kin"]).alias("kin"),
            )
        )
        scored = (
            cand.join(_bcast(labels), "id")
            .join(
                _bcast(sig.withColumnRenamed("label", "cand")), "cand"
            )
            .withColumn(
                "score",
                F.lit(two_m) * F.col("kin")
                - F.col("k")
                * (
                    F.col("sig")
                    - F.when(F.col("cand") == F.col("label"), F.col("k")).otherwise(
                        F.lit(0)
                    )
                ),
            )
        )
        # argmax as a struct-min hash aggregate: min(struct(-score, cand))
        # orders by score DESC then cand ASC — the exact tiebreak — with
        # map-side partial aggregation and no per-id sort (the window
        # form shuffled the full candidate set and sorted each group).
        # k and label are constant within an id group, so min() reads
        # them back without another labels join.
        best = (
            scored.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("ns"), F.col("cand").alias("cand")
                    )
                ).alias("b"),
                F.min("k").alias("k"),
                F.min("label").alias("label"),
            )
        )
        new_label = F.col("b.cand")
        mover = even if r % 2 == 0 else ~even
        # Checkpoint EVERY round: the label vector is referenced ~5x per
        # round (sig, nbr broadcast, scored, own-rows union), so skipping
        # measured 40% slower — recompute beats materialization only
        # when references are few (pagerank's 2x/iter), not here. LAZY
        # (eager=False, r7): the next round's first referencing job
        # computes-and-caches it, removing one driver sync point per
        # round; all later references (including the checkpoint-backed
        # lineage truncation) read the cached copy.
        # Measured dead ends (r8, do not retry): (a) .persist() instead
        # of localCheckpoint — would preserve outputPartitioning and
        # make the own-join shuffle-free, but WITHOUT lineage truncation
        # the 5-references-per-round plan tree explodes across 8 rounds
        # (7 s -> 45-54 s); (b) broadcasting `best` into the label
        # update — forces an eager per-round broadcast job that defeats
        # the lazy-checkpoint pipelining (no win, interleaved A/B).
        labels = (
            best.select(
                "id",
                F.when(mover, new_label).otherwise(F.col("label")).alias("label"),
                "k",
            )
            .localCheckpoint(eager=False)
        )
    if not small:
        nonself.unpersist()
    return labels.select("id", "label")


def _contract(und_w: DataFrame, labels: DataFrame) -> DataFrame:
    """Coarsen: communities become super-nodes; edge weights sum.

    Because ``und_w`` carries both orientations, intra-community rows
    fold into a self-loop ``(c, c, w = 2 x internal weight)`` — exactly
    the self-loop convention :func:`_louvain_moves` expects."""
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("csrc"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("cdst"))
    return (
        und_w.join(la, "src")
        .join(lb, "dst")
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def louvain(
    edges: DataFrame,
    rounds: int = 4,
    levels: int = 2,
    assume_simple: bool = False,
) -> DataFrame:
    """Hierarchical Louvain: local moves, coarsen, move again (SURVEY G6).

    The reference runs Neo4j GDS Louvain (ref dags/graph_queries.cyp:
    19-30), which is hierarchical; this is the same two-phase shape as
    a DataFrame program: ``levels`` rounds of (local moving ->
    community contraction), each level one :func:`_louvain_moves` pass
    over the graph coarsened so far. Level 1 runs on the UNWEIGHTED
    simple graph (edge multiplicity/weight from the projection is
    ignored — GDS Louvain can be weight-aware; documented fidelity
    delta), while coarsened levels are weighted by construction
    (super-edge weight = inter-community edge count), keeping the gain
    scores integer-exact at every level.

    Contraction is one groupBy on the (node -> community) map; the
    super-graph is community-sized, so upper levels cost a vanishing
    fraction of level 1 at scale. Returns (node_id, community) where
    ``community`` is the top-level community id each base node landed
    in.

    ``assume_simple=True`` skips the post-undirect ``distinct()`` —
    correct whenever the caller guarantees unique directed pairs with
    no reverse duplicates (e.g. a groupBy-built bipartite projection
    with namespaced node ids, where fwd/rev orientations cannot
    collide); the distinct is then a pure no-op shuffle of the edge
    list.

    Graphs of at most ``LOCAL_MOVE_EDGES`` undirected rows run the whole
    program as one task (:func:`louvain_local`).
    """
    # The checkpoint stays on both branches: it runs the projection's
    # final aggregate in parallel, where the kernel's coalesce(1) would
    # serialize it (eliding it measured slower).
    ed = materialized(edges)
    # the undirected graph has 2 rows per directed edge
    small = fits(LOCAL_MOVE_EDGES // 2, df=ed)
    if small and assume_simple:
        # unique directed pairs, no reverse duplicates: the kernel's
        # in-memory mirroring IS the undirect — half the Arrow transfer
        return louvain_local(
            ed.select("src", "dst"), edge_feed(mirror=True), rounds, levels
        )
    und = undirect(ed)
    if not assume_simple:
        und = und.distinct()
    if small:
        return louvain_local(und, edge_feed(), rounds, levels)
    return _louvain_hierarchy(
        und.withColumn("w", F.lit(1).cast("long")), rounds, levels
    )


def louvain_weighted(
    edges: DataFrame,
    rounds: int = 4,
    levels: int = 2,
) -> DataFrame:
    """Weight-aware hierarchical Louvain: the edge ``weight`` column
    (projection multiplicity — lineitem count per customer-supplier
    pair) enters every degree / kin / sigma sum, mirroring GDS Louvain
    with ``relationshipWeightProperty`` (ref graph_queries.cyp:19-30 —
    the reference's graph carries MERGE multiplicities the unweighted
    variant ignores). Weights are integer counts, so the gain scores
    stay integer-exact; everything else (seed, parity sweeps,
    contraction, levels) is identical to :func:`louvain`."""
    # Same size gate and checkpoint as louvain(). mirror=True
    # accumulates both orientations in memory — exactly louvain_exact's
    # weighted loader.
    edges = materialized(edges)
    fwd = edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    if fits(LOCAL_MOVE_EDGES // 2, df=edges):
        return louvain_local(fwd, edge_feed(mirror=True), rounds, levels)
    rev = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("weight").cast("long").alias("w"),
    )
    und = fwd.unionAll(rev)
    return _louvain_hierarchy(und, rounds, levels)


def _louvain_hierarchy(und: DataFrame, rounds: int, levels: int) -> DataFrame:
    """Level loop: materialize ONE hash(src)-partitioned cached edge
    frame per level (feeding both the move rounds and the contraction —
    see the :func:`_louvain_moves` caller contract), then local-move,
    contract, and recurse. Contracted levels are community-sized; below
    ``LOCAL_MOVE_EDGES`` rows their rounds run as one single-level
    :func:`louvain_local` task instead of the distributed loop, whose
    checkpointed rounds cost job-scheduling latency at that size."""
    parts = und.repartition("src").persist()
    labels = _louvain_moves(parts, rounds)
    for _ in range(levels - 1):
        sup = _contract(parts, labels).localCheckpoint(eager=True)
        parts.unpersist()
        parts = sup
        if fits(LOCAL_MOVE_EDGES, df=sup):
            upper = louvain_local(sup, edge_feed(), rounds, levels=1).toDF(
                "id", "label"
            )
        else:
            parts = sup.repartition("src").persist()
            upper = _louvain_moves(parts, rounds)
        labels = (
            labels.join(
                upper.select(
                    F.col("id").alias("label"), F.col("label").alias("upper")
                ),
                "label",
            )
            .select("id", F.col("upper").alias("label"))
            .localCheckpoint(eager=True)
        )
    if levels == 1:
        # The level loop never ran, so labels is still the LAZILY
        # checkpointed frame from _louvain_moves — force it while parts
        # is cached, or the whole round loop recomputes off un-cached
        # lineage after the unpersist below (r7 advisory). levels >= 2
        # already ends on an eager checkpoint.
        labels = labels.localCheckpoint(eager=True)
    parts.unpersist()
    return labels.select(
        F.col("id").alias("node_id"), F.col("label").alias("community")
    )


def louvain_exact(
    edges: DataFrame,
    rounds: int = 4,
    levels: int = 2,
    weighted: bool = False,
) -> DataFrame:
    """Driver-side simulation of :func:`louvain` (and, with
    ``weighted=True``, of :func:`louvain_weighted`) — the small-graph
    TEST ORACLE (same role as :func:`betweenness_exact`): identical
    singleton seed, integer gain score, min-label tiebreak, md5-parity
    half-sweeps, contraction, and level count, executed in plain Python
    over the collected edge list via the shared :func:`_moves_py`
    kernel (also the executor-side contracted-level kernel)."""
    # weighted directed-row map, self-loop rows carry 2x internal weight
    # (the _louvain_moves representation)
    w: dict[tuple[str, str], int] = {}
    if weighted:
        # Accumulate (not assign) both orientations so duplicate /
        # already-bidirectional rows sum and a self-loop row carries 2w —
        # mirroring the distributed fwd.unionAll(rev) sum semantics on
        # multigraph inputs (r5 advisory).
        for row in edges.collect():
            ww = int(row["weight"])
            w[(row["src"], row["dst"])] = w.get((row["src"], row["dst"]), 0) + ww
            w[(row["dst"], row["src"])] = w.get((row["dst"], row["src"]), 0) + ww
    else:
        for row in undirect(edges).distinct().collect():
            w[(row["src"], row["dst"])] = 1

    label = _hierarchy_py(w, rounds, levels)

    spark = edges.sparkSession
    rows = sorted(label.items())
    return spark.createDataFrame(rows, "node_id string, community string")


def bounded_reachability(edges: DataFrame, max_hops: int) -> DataFrame:
    """Variable-length path expansion (SURVEY J11, `REFERENCES*1..k`):
    (node, reachable-node) pairs within <= max_hops, via iterative
    frontier self-joins with per-round dedup (BFS-style)."""
    und = undirect(edges).distinct().cache()
    reach = und.select("src", "dst").withColumn("hops", F.lit(1)).cache()
    frontier = reach
    prev_reach = prev_frontier = None
    for hop in range(2, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(und.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .withColumn("hops", F.lit(hop))
        )
        new = nxt.join(
            reach.select("src", "dst"), ["src", "dst"], "left_anti"
        ).cache()
        new.count()  # force: referenced by both the union and the next frontier
        prev_reach, prev_frontier = reach, frontier
        reach = reach.unionAll(new).cache()
        reach.count()  # materialize before releasing the previous generation
        frontier = new
        # Only the current reach + frontier stay persisted — heap stays
        # O(1) generations, not O(max_hops) (round-1 advisory finding).
        prev_reach.unpersist()
        if prev_frontier is not prev_reach:
            prev_frontier.unpersist()
    out = reach.localCheckpoint(eager=True)
    for df in (reach, frontier, und):
        df.unpersist()
    return out


def betweenness_distributed(
    edges: DataFrame,
    num_landmarks: int | None = None,
    max_depth: int = 20,
) -> DataFrame:
    """Betweenness centrality as a distributed Brandes program (SURVEY G7).

    No driver-side graph: both phases are DataFrame joins, so the plan
    scales out with the cluster (each round is one shuffle keyed on node).

      * Forward: multi-source BFS from all landmark roots at once —
        frontier join per level accumulating (root, node, dist, sigma)
        where sigma = number of shortest root->node paths.
      * Backward: level-synchronous dependency accumulation over the
        shortest-path DAG, delta(v) += sigma_v/sigma_w * (1 + delta(w))
        for DAG successors w, swept from the deepest level up.

    ``num_landmarks=None`` runs from every node — exact Brandes (the
    closed-form tests pin this against :func:`betweenness_exact`).
    Otherwise roots are the ``num_landmarks`` nodes with the smallest
    md5(id) (a deterministic pseudo-random sample) and scores are scaled
    by n/k — the Brandes–Pich estimator, the 100 TB path where k is
    fixed while n grows. Scores are halved (undirected) and rounded to 6.
    """
    und = undirect(edges).distinct().cache()
    nodes = und.select(F.col("src").alias("id")).distinct().cache()
    n = nodes.count()
    if num_landmarks is None or num_landmarks >= n:
        roots = nodes.select(F.col("id").alias("root"))
        scale = 1.0
    else:
        roots = (
            nodes.orderBy(F.md5("id"), "id")
            .limit(num_landmarks)
            .select(F.col("id").alias("root"))
        )
        scale = n / num_landmarks

    # Forward BFS. state accumulates every reached (root, node); frontier
    # is the newly-reached level. Each generation is localCheckpoint-ed:
    # the anti-join + union embed the prior state plan TWICE per level, so
    # cache alone (which materializes data but keeps the logical plan)
    # grows the plan tree 2^depth — checkpointing truncates lineage.
    state = roots.select(
        "root",
        F.col("root").alias("node"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)
    frontier = state
    depth = 0
    while depth < max_depth:
        depth += 1
        nxt = (
            frontier.alias("f")
            .join(und.alias("e"), F.col("f.node") == F.col("e.src"))
            .groupBy("f.root", F.col("e.dst").alias("node"))
            .agg(F.sum("f.sigma").alias("sigma"))
            .join(state.select("root", "node"), ["root", "node"], "left_anti")
            .withColumn("dist", F.lit(depth))
            .select("root", "node", "dist", "sigma")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        state = state.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    max_dist = depth - 1

    # Shortest-path DAG: edge (v, w) belongs to root's DAG iff
    # dist(w) = dist(v) + 1 under that root.
    sv = state.select(
        "root",
        F.col("node").alias("v"),
        F.col("dist").alias("dv"),
        F.col("sigma").alias("sigma_v"),
    )
    sw = state.select(
        "root",
        F.col("node").alias("w"),
        F.col("dist").alias("dw"),
        F.col("sigma").alias("sigma_w"),
    )
    dag = (
        und.join(sv, und.src == sv.v)
        .join(sw, (und.dst == sw.w) & (sv.root == sw.root))
        .filter(F.col("dw") == F.col("dv") + 1)
        .select(sv.root, "v", "dv", "sigma_v", "w", "sigma_w")
        .localCheckpoint(eager=True)
    )

    # Backward sweep, deepest level first. delta holds (root, node, delta)
    # for every level already processed; checkpointed per level for the
    # same lineage-truncation reason as the forward pass.
    delta = (
        state.filter(F.col("dist") == max_dist)
        .select("root", "node", F.lit(0.0).alias("delta"))
        .localCheckpoint(eager=True)
    )
    for lvl in range(max_dist - 1, -1, -1):
        contrib = (
            dag.filter(F.col("dv") == lvl)
            .join(
                delta.select("root", F.col("node").alias("w"), "delta"),
                ["root", "w"],
            )
            .groupBy("root", F.col("v").alias("node"))
            .agg(
                F.sum(
                    F.col("sigma_v") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta"))
                ).alias("d")
            )
        )
        lvl_delta = (
            state.filter(F.col("dist") == lvl)
            .select("root", "node")
            .join(contrib, ["root", "node"], "left")
            .select("root", "node", F.coalesce("d", F.lit(0.0)).alias("delta"))
        )
        delta = delta.unionAll(lvl_delta).localCheckpoint(eager=True)

    out = (
        nodes.join(
            delta.filter(F.col("node") != F.col("root"))
            .groupBy("node")
            .agg(F.sum("delta").alias("b")),
            nodes.id == F.col("node"),
            "left",
        )
        .select(
            F.col("id").alias("node_id"),
            F.round(F.coalesce("b", F.lit(0.0)) * scale / 2.0, 6).alias(
                "betweenness"
            ),
        )
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    nodes.unpersist()
    return out


def betweenness_exact(edges: DataFrame) -> DataFrame:
    """Exact Brandes betweenness (unweighted, undirected).

    Driver-side over the collected edge list — the small-graph TEST ORACLE
    for :func:`betweenness_distributed` (tests/test_graph.py pins the two
    equal on hand-built graphs). Not registered as a query path itself.
    Returns (node_id, betweenness) rounded to 6.
    """
    adj: dict[str, list[str]] = {}
    for row in undirect(edges).distinct().collect():
        adj.setdefault(row["src"], []).append(row["dst"])
    for v in adj:
        adj[v].sort()  # deterministic traversal order

    bc = {v: 0.0 for v in adj}
    for s in sorted(adj):
        stack: list[str] = []
        preds: dict[str, list[str]] = {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        dist = {v: -1 for v in adj}
        sigma[s], dist[s] = 1, 0
        queue = deque([s])
        while queue:
            v = queue.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in adj}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]

    spark = edges.sparkSession
    rows = [(v, round(b / 2.0, 6)) for v, b in sorted(bc.items())]
    return spark.createDataFrame(rows, "node_id string, betweenness double")


def kcore(edges: DataFrame, k: int = 30, rounds: int = 5) -> DataFrame:
    """Bounded k-core peel (SURVEY G-family extension): ``rounds``
    synchronous rounds of removing nodes whose CURRENT degree (over
    edges between still-alive nodes) is below ``k``. A fixed round
    count keeps the program an unrollable join chain — the DuckDB
    oracle replays the same rounds as CTEs — and bounds plan depth;
    full convergence is the rounds->diameter limit, with each extra
    round one more filtered join + aggregate (the same per-round shape
    as label propagation). Returns every node with an ``in_core``
    flag. Per round: two semi-join filters of the cached edge list +
    one map-side-combined degree aggregate — no global structures, no
    driver-side graph.

    r7: the edge list is persisted hash(src)-partitioned ONCE (the
    louvain recipe) so the per-round degree aggregate runs shuffle-free
    under the size-gated broadcast of the node-sized alive vector —
    below ``BROADCAST_NODES`` a round shuffles nothing edge-sized; above
    it the joins fall back to shuffles of the alive vector only."""
    und = undirect(materialized(edges)).repartition("src").persist()
    nodes_all = (
        und.select(F.col("src").alias("id")).distinct().localCheckpoint(eager=True)
    )
    small = nodes_all.count() <= BROADCAST_NODES

    def _bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    alive = nodes_all
    for _ in range(rounds):
        e = und.join(
            _bcast(alive.select(F.col("id").alias("src"))), "src"
        ).join(_bcast(alive.select(F.col("id").alias("dst"))), "dst")
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # lazy: the next round's first referencing job computes+caches
        alive = (
            deg.filter(F.col("d") >= k)
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=False)
        )
    out = nodes_all.join(
        alive.withColumn("flag", F.lit(True)), "id", "left"
    ).select(
        F.col("id").alias("node_id"),
        F.coalesce("flag", F.lit(False)).alias("in_core"),
    ).localCheckpoint(eager=True)
    und.unpersist()
    return out


def _cc_star_np(s, d, m, rounds):
    """Vectorized replay of :func:`connected_components`' alternating
    large-star / small-star rounds over code arrays in a
    lexicographically-ordered code space of size ``m`` (code order ==
    node-id string order, so integer MINs reproduce the string MINs).
    Every distributed consumer of the edge stream is (or feeds) a keyed
    MIN aggregate, so the per-round ``np.unique`` dedup reproduces the
    multiset rounds exactly (multiplicity never changes a MIN — the
    same argument that lets the distributed form skip intermediate
    distincts). Returns the per-code component array, component =
    round-``rounds`` star root coalesced to the node itself — identical
    to the distributed output by construction (pinned by
    tests/test_local_kernels.py)."""
    import numpy as np

    own = np.arange(m, dtype=np.int64)
    e = np.unique(s.astype(np.int64) * m + d)
    for _ in range(rounds):
        a, b = e // m, e % m
        # large-star over both edge directions
        u = np.concatenate([a, b])
        v = np.concatenate([b, a])
        mn = np.full(m, m, np.int64)  # sentinel above any code
        np.minimum.at(mn, u, v)
        mroot = np.minimum(mn, own)
        mask = v > u
        ls = np.unique(mroot[u[mask]] * m + v[mask])  # (a=min, b=larger)
        # small-star over large->small directed edges
        su, sv = ls % m, ls // m
        mn2 = np.full(m, m, np.int64)
        np.minimum.at(mn2, su, sv)
        m2 = np.minimum(mn2, own)
        cu = np.concatenate([su, su])
        cx = np.concatenate([sv, su])
        keep = cx != m2[cu]
        e = np.unique(m2[cu[keep]] * m + cx[keep])
    roots = np.full(m, m, np.int64)
    np.minimum.at(roots, e % m, e // m)
    return np.where(roots < m, roots, own)


def cc_local(df: DataFrame, feed, rounds: int) -> DataFrame:
    """Single-task connected components for a graph proven small:
    :func:`_cc_star_np` replays all ``rounds`` star pairs and the root
    aggregate in one Spark job. A mirrored feed only
    repeats edges, which no MIN aggregate sees, and every pair feed row
    is (c-node, s-node) with 'c' < 's', so the feeds need no
    least/greatest normalization. Returns (node_id, component)."""

    def body(s, d, w, names):
        return names, names[_cc_star_np(s, d, len(names), rounds)]

    return single_task(
        df,
        lambda t: (g := feed(t)) and body(*g),
        "node_id string, component string",
    )


def connected_components(
    edges: DataFrame,
    rounds: int = 3,
    dedup_every: int = 2,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"); returns (node_id, component) with component = the
    lexicographically smallest node id in the component.

    Unlike min-label propagation (O(diameter) rounds), the star
    operations converge in O(log^2 n) rounds by rewiring edges toward
    component minima:

      * large-star: every node u links its LARGER neighbors to
        m = min(neighborhood(u) + {u});
      * small-star: edges directed large->small; every node u links its
        smaller neighbors AND ITSELF to m = min(smaller nbrs + {u}).

    Both are one keyed aggregate + one join per application — no
    windows, no driver state; each pair of rounds is localCheckpoint'ed
    to cut the lineage (the pagerank recipe). `rounds` is FIXED (not
    run-to-convergence) so the unrolled SQL oracle replays identical
    rounds; extra rounds past the fixed point are no-ops (the star
    fixed point is idempotent), and tests/test_graph.py pins
    convergence by asserting one extra pair changes nothing.

    Nodes are taken from the INPUT edge list, so isolated-by-thinning
    nodes never vanish mid-rounds: final component = coalesce(star
    root, own id).

    Duplicate edges are allowed to flow BETWEEN star applications: every
    consumer of the edge stream is (or feeds) a keyed MIN aggregate, so
    multiplicity never changes any result — each intermediate
    ``distinct()`` is a full edge-sized shuffle that the next round's
    ``groupBy`` re-shuffles anyway. Growth is bounded: one un-deduped
    round emits at most 4x the incoming rows, so a ``distinct`` every
    ``dedup_every`` rounds caps the working set at 4^dedup_every * |E|
    worst case (real graphs shrink — large-star rewires to minima).
    ``dedup_every=1`` dedups every round. Output does not depend on the
    cadence (test-pinned across round parities). The cadence is fixed,
    not adaptive: a size check per round would cost one count job per
    round.

    Graphs of at most ``LOCAL_MOVE_EDGES`` normalized rows run as one
    task (:func:`cc_local`). The distributed branch is
    job-dispatch-latency-bound on small inputs: it ran 49 jobs per
    execution over sf0.1's 12.9k edges (counted via statusTracker), so
    its wall time there tracks the host's per-job latency, not the edge
    work.
    """
    if dedup_every < 1:
        # 0 would divide-by-zero in the cadence check; negatives would
        # silently disable dedup and let the working set grow 4x/round.
        raise ValueError(f"dedup_every must be >= 1, got {dedup_every}")
    base = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # The checkpoint stays on both branches: it keeps the
    # normalize+distinct reduce side parallel, where the kernel's
    # coalesce(1) would serialize it.
    base = base.localCheckpoint(eager=True)
    if fits(LOCAL_MOVE_EDGES, df=base):
        return cc_local(base, edge_feed(), rounds)
    e = base
    for r in range(rounds):
        # large-star over both edge directions
        d = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = d.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
        )
        # small-star over large->small directed edges
        sd = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = sd.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        cand = sd.select("u", F.col("v").alias("x")).unionAll(
            sd.select("u", F.col("u").alias("x"))
        )
        e = (
            cand.join(smins, "u")
            .filter(F.col("x") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("x").alias("b"))
        )
        if (r + 1) % dedup_every == 0:
            e = e.distinct()
        # lazy: the next round's first referencing job computes and
        # caches this generation — one less driver sync per round
        e = e.localCheckpoint(eager=False)
    nodes = (
        base.select(F.col("a").alias("node_id"))
        .unionAll(base.select(F.col("b").alias("node_id")))
        .distinct()
    )
    # MIN-aggregate rather than a bare projection so a not-yet-converged
    # node (multiple star edges) still yields one row with the best root.
    roots = e.groupBy(F.col("b").alias("node_id")).agg(F.min("a").alias("root"))
    return nodes.join(roots, "node_id", "left").select(
        "node_id", F.coalesce("root", F.col("node_id")).alias("component")
    )
