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

    Feed for the fused single-task graph kernels (r20, guide §1.2/§2.4):
    below the size gates the projection's groupBy exchange, the
    string-id concat, and the localCheckpoint are pure overhead — the
    kernel dedups/counts the int pairs in numpy (~tens of ms) and
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


def _pagerank_local(
    edges: DataFrame, iterations: int, damping: float, mirror: bool = False
) -> DataFrame:
    """Single-task PageRank for an edge list known to fit one executor
    (``<= LOCAL_MOVE_EDGES`` rows — gated by :func:`pagerank_sized`,
    r19). One ``mapInPandas`` job runs all iterations in memory,
    replacing the per-iteration checkpoint jobs whose cost at this size
    is job-dispatch latency (guide §1.2). The arithmetic mirrors
    :func:`pagerank` term-for-term — same ``(1-d)/n`` base computed in
    Python, same ``pr/d`` share, same per-edge contribution terms; the
    only divergence is double-summation order inside each node's
    contribution sum, which the distributed aggregate does not pin
    either (partial-aggregate order varies run to run) — and the final
    ROUND(pr, 6) stays a Spark-side expression so rounding semantics
    are byte-identical to the distributed form. Equality with the
    distributed loop and the unrolled SQL oracle is pinned by
    tests/test_graph.py. Above the gate :func:`pagerank` runs
    unchanged (the 100 TB path)."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        tabs = [pa.Table.from_batches([b]) for b in batches]
        if tabs:
            t = pa.concat_tables(tabs)
            codes, names = _factorize_sorted_arrow(
                [t.column("src"), t.column("dst")]
            )
            s, d = codes[: t.num_rows], codes[t.num_rows:]
            if mirror:
                # in-memory undirect (the louvain kernel's mirror=True):
                # the caller passed the DIRECTED list — half the Arrow
                # transfer. Concat order [fwd srcs, fwd dsts] is exactly
                # the row order undirect()'s union produces through
                # coalesce(1), so the np.add.at contribution order — the
                # one documented divergence surface — is unchanged.
                s, d = np.concatenate([s, d]), np.concatenate([d, s])
            pr = _pagerank_np(s, d, len(names), iterations, damping)
            yield pa.RecordBatch.from_arrays(
                [names, pa.array(pr, pa.float64())],
                names=["node_id", "pr"],
            )

    out = edges.coalesce(1).mapInArrow(kernel, "node_id string, pr double")
    return out.select("node_id", F.round("pr", 6).alias("pagerank"))


def _pagerank_np(s, d, n, iterations, damping):
    """The shared numpy PageRank loop (factored r20 so the string-fed
    and fused pair-fed kernels run literally the same arithmetic):
    same per-edge contribution terms and ``(1-d)/n`` base as the
    distributed :func:`pagerank`."""
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


def pagerank_pairs_local(
    pairs: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fused single-task PageRank over the RAW customer-supplier pairs
    (r20, guide §1.2/§2.4): ONE mapInArrow job replaces the projection
    aggregate + exchange + checkpoint + kernel job — the kernel dedups
    the int pairs, builds codes from the ~|V| distinct keys, mirrors in
    memory, and runs the identical :func:`_pagerank_np` loop. The final
    ROUND(pr, 6) stays a Spark expression (byte-identical rounding to
    the distributed form). Callers must have PROVEN the graph small
    (footer bound <= LOCAL_MOVE_EDGES); above the gate the projection +
    distributed plan runs byte-unchanged. Parity vs the distributed
    loop is pinned by tests/test_local_kernels.py at the bench SFs."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        tabs = [pa.Table.from_batches([b]) for b in batches]
        if tabs:
            t = pa.concat_tables(tabs)
            uc, us, _ = _pairs_dedup(t)
            if not len(uc):
                return
            s, d, names = _pair_codes(uc, us)
            s2, d2 = np.concatenate([s, d]), np.concatenate([d, s])
            pr = _pagerank_np(s2, d2, len(names), iterations, damping)
            yield pa.RecordBatch.from_arrays(
                [pa.array(names.tolist(), pa.string()),
                 pa.array(pr, pa.float64())],
                names=["node_id", "pr"],
            )

    out = pairs.coalesce(1).mapInArrow(kernel, "node_id string, pr double")
    return out.select("node_id", F.round("pr", 6).alias("pagerank"))


def pagerank_sized(
    edges: DataFrame,
    n_edge_rows: int,
    iterations: int = 3,
    damping: float = 0.85,
    mirror: bool = False,
) -> DataFrame:
    """Size-dispatched PageRank (r19): callers that already know the
    edge-row count (e.g. from a materialized projection) route small
    graphs to the single-task kernel and everything else to the
    distributed loop. ``mirror=True`` means ``edges`` is the DIRECTED
    list of a simple undirected graph: the kernel mirrors it in memory
    (half the Arrow transfer) and the distributed path unions it."""
    if n_edge_rows <= LOCAL_MOVE_EDGES:
        return _pagerank_local(edges, iterations, damping, mirror=mirror)
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

#: Edge-row ceiling under which a (contracted) graph's local-moving
#: rounds run as ONE single-task executor kernel instead of the
#: distributed round loop. After Louvain's first contraction the graph
#: is community-sized — orders of magnitude smaller than the input — so
#: processing it in memory on one executor is the classic hierarchical-
#: Louvain design (GDS and GraphX coarsening do the same); 2M weighted
#: edge rows is a few hundred MB of Python dicts, comfortably inside an
#: executor. Level 1 (the full graph) never takes this path.
LOCAL_MOVE_EDGES = 2_000_000


def _moves_py(
    wmap: dict[tuple[str, str], int], n_rounds: int
) -> dict[str, str]:
    """Pure-Python Louvain local-moving kernel over an in-memory
    weighted directed-row map (both orientations present; self-loop
    rows carry 2x internal weight — the :func:`_louvain_moves`
    representation). Shared verbatim by :func:`louvain_exact` (the
    driver-side test oracle) and :func:`_louvain_moves_local` (the
    single-task executor kernel for contracted levels), so the two are
    equal by construction — same singleton seed, integer gain score,
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
    :func:`louvain_exact` (driver-side test oracle) and
    :func:`_louvain_local` (the size-gated single-task executor kernel,
    r19), so the two are equal by construction."""
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


def _factorize_sorted(values):
    """Codes + SORTED unique names for a string array — code order ==
    lexicographic order, the invariant every numpy kernel's integer min
    tiebreak relies on."""
    import numpy as np
    import pandas as pd

    codes_raw, uniques = pd.factorize(values)
    uniques = np.asarray(uniques, dtype=object)
    order = np.argsort(uniques)
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    return rank[codes_raw], uniques[order]


def _factorize_sorted_arrow(arrays):
    """Arrow-native factorization of one-or-more string arrays into a
    shared lexicographic code space (guide §4.2: keep bulk strings in
    Arrow buffers, never materialize per-row Python objects). Returns
    (codes ndarray int64 over the concatenation, names Arrow array
    sorted ascending). Arrow's sort and Spark's UTF8String ordering are
    both binary byte order, and the node-id alphabet here is ASCII, so
    code order == the engine's string order — the min-tiebreak
    invariant."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    flat = pa.concat_arrays(
        [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays]
    )
    enc = pc.dictionary_encode(flat)
    dictionary = enc.dictionary
    order = pc.sort_indices(dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = rank[enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    return codes, dictionary.take(pa.array(order))


def _louvain_local(
    edges_w: DataFrame, rounds: int, levels: int, mirror: bool
) -> DataFrame:
    """Single-task execution of the ENTIRE hierarchical Louvain program
    for a graph known to fit one executor (``<= LOCAL_MOVE_EDGES``
    undirected rows — gated by :func:`louvain` / :func:`louvain_weighted`
    on the materialized projection's row count, r19). One Spark job
    runs every level's local-moving rounds AND the contractions in
    memory (vectorized int64 kernel; dict kernel above the overflow
    bound), replacing ``levels`` x (``rounds`` checkpoint jobs +
    contraction jobs) of sub-second stages whose cost at this size is
    pure job-dispatch latency (guide §1.2: fix the distributed
    algorithm's pass count first). ``mirror=True`` takes the DIRECTED
    row list and adds both orientations in memory — half the Arrow
    transfer, same accumulate-both semantics as ``louvain_exact``.
    Above the gate the distributed `_louvain_hierarchy` runs unchanged
    — the 100 TB path is untouched. Equality with the distributed loop
    is pinned by tests/test_graph.py and tests/test_local_kernels.py
    (both against ``louvain_exact``). Returns (node_id, community)."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        tabs = [pa.Table.from_batches([b]) for b in batches]
        schema = pa.schema(
            [pa.field("node_id", pa.string()), pa.field("community", pa.string())]
        )
        if not tabs:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                schema=schema,
            )
            return
        t = pa.concat_tables(tabs)
        codes, names = _factorize_sorted_arrow(
            [t.column("src"), t.column("dst")]
        )
        n_rows = t.num_rows
        s, d = codes[:n_rows], codes[n_rows:]
        w = t.column("w").to_numpy(zero_copy_only=False).astype(np.int64)
        if mirror:
            s, d = np.concatenate([s, d]), np.concatenate([d, s])
            w = np.concatenate([w, w])
        if int(w.sum()) > _NP_TWO_M_MAX:
            # arbitrary-precision fallback: gain scores would overflow
            # int64 — accumulate into the shared dict kernel instead
            names_py = names.to_pylist()
            wmap: dict[tuple[str, str], int] = {}
            for u, v, ww in zip(s, d, w):
                key = (names_py[u], names_py[v])
                wmap[key] = wmap.get(key, 0) + int(ww)
            label = _hierarchy_py(wmap, rounds, levels)
            items = list(label.items())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([x[0] for x in items], pa.string()),
                    pa.array([x[1] for x in items], pa.string()),
                ],
                schema=schema,
            )
            return
        total, cnames = _hierarchy_np(
            s, d, w, names.to_numpy(zero_copy_only=False), rounds, levels
        )
        yield pa.RecordBatch.from_arrays(
            [names, pa.array(cnames[total], pa.string())], schema=schema
        )

    return edges_w.coalesce(1).mapInArrow(
        kernel, "node_id string, community string"
    )


def louvain_pairs_local(
    pairs: DataFrame,
    rounds: int = 4,
    levels: int = 2,
    weighted: bool = False,
) -> DataFrame:
    """Fused single-task hierarchical Louvain over the RAW
    customer-supplier pairs (r20, guide §1.2/§2.4): ONE mapInArrow job
    replaces the projection aggregate + exchange + checkpoint + the
    string-fed kernel job. The kernel dedups/counts the int pairs
    (numpy; the groupBy twin), builds codes from the ~|V| distinct
    keys, mirrors in memory, and runs the identical
    :func:`_hierarchy_np` (``weighted=True``: multiplicity counts enter
    every sum — the louvain_weighted semantics; else w=1 per distinct
    pair). The arbitrary-precision dict fallback takes over above
    ``_NP_TWO_M_MAX`` exactly like :func:`_louvain_local`. Callers must
    have PROVEN the graph small (footer bound); above the gate the
    projection + distributed plan runs byte-unchanged. Parity pinned by
    tests/test_local_kernels.py at the bench SFs."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        schema = pa.schema(
            [pa.field("node_id", pa.string()), pa.field("community", pa.string())]
        )
        tabs = [pa.Table.from_batches([b]) for b in batches]
        if not tabs:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                schema=schema,
            )
            return
        t = pa.concat_tables(tabs)
        uc, us, cnt = _pairs_dedup(t)
        if not len(uc):
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                schema=schema,
            )
            return
        s, d, names = _pair_codes(uc, us)
        w = cnt if weighted else np.ones(len(s), np.int64)
        if 2 * int(w.sum()) > _NP_TWO_M_MAX:
            # arbitrary-precision fallback (cf. _louvain_local): mirror
            # into the shared dict kernel — namespaces are disjoint so
            # (v, u) never collides with another pair's (u, v)
            names_py = names.tolist()
            wmap: dict[tuple[str, str], int] = {}
            for u, v, ww in zip(s, d, w):
                a, b = names_py[u], names_py[v]
                wmap[(a, b)] = wmap.get((a, b), 0) + int(ww)
                wmap[(b, a)] = wmap.get((b, a), 0) + int(ww)
            label = _hierarchy_py(wmap, rounds, levels)
            items = list(label.items())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([x[0] for x in items], pa.string()),
                    pa.array([x[1] for x in items], pa.string()),
                ],
                schema=schema,
            )
            return
        s2, d2 = np.concatenate([s, d]), np.concatenate([d, s])
        w2 = np.concatenate([w, w])
        total, cnames = _hierarchy_np(s2, d2, w2, names, rounds, levels)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(names.tolist(), pa.string()),
                pa.array(cnames[total].tolist(), pa.string()),
            ],
            schema=schema,
        )

    return pairs.coalesce(1).mapInArrow(
        kernel, "node_id string, community string"
    )


def _louvain_moves_local(und_w: DataFrame, rounds: int) -> DataFrame:
    """Single-task execution of the local-moving rounds for a graph
    known to fit one executor (``<= LOCAL_MOVE_EDGES`` rows — the
    contracted levels of :func:`louvain`). ``coalesce(1)`` funnels the
    community-sized edge list into one ``mapInPandas`` task that runs
    :func:`_moves_py` in memory: one Spark job for the whole level
    instead of ``rounds`` checkpoint jobs of sub-second stages. Returns
    (id, label) like :func:`_louvain_moves`; equality with the
    distributed loop is pinned by tests/test_graph.py (both against
    ``louvain_exact``, which shares the same kernel)."""

    def kernel(batches):
        import pandas as pd

        wmap: dict[tuple[str, str], int] = {}
        for pdf in batches:
            for u, v, ww in zip(pdf["src"], pdf["dst"], pdf["w"]):
                # accumulate (not assign): duplicate (src, dst) rows sum,
                # mirroring the distributed SUM(w) semantics
                wmap[(u, v)] = wmap.get((u, v), 0) + int(ww)
        label = _moves_py(wmap, rounds)
        yield pd.DataFrame(
            {"id": list(label.keys()), "label": list(label.values())}
        )

    return und_w.coalesce(1).mapInPandas(kernel, "id string, label string")


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
    n_edge_rows: int | None = None,
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
    """
    # Size-gated whole-program local path (r19): ``n_edge_rows`` is an
    # optional caller-supplied UPPER BOUND on the directed rows (e.g. a
    # parquet footer fact count — edges <= fact rows): it can only
    # PROVE smallness — skipping the count job — never force the
    # distributed path. The checkpoint stays either way: it runs the
    # projection's final aggregate 32-way parallel, where the kernel's
    # coalesce(1) would serialize it (measured r19: eliding it made
    # louvain SLOWER).
    ed = materialized(edges)
    small = (
        n_edge_rows is not None and 2 * n_edge_rows <= LOCAL_MOVE_EDGES
    ) or 2 * ed.count() <= LOCAL_MOVE_EDGES
    if small and assume_simple:
        # unique directed pairs, no reverse duplicates: the kernel's
        # in-memory mirroring IS the undirect — half the Arrow transfer
        return _louvain_local(
            ed.select("src", "dst", F.lit(1).cast("long").alias("w")),
            rounds,
            levels,
            mirror=True,
        )
    und = undirect(ed)
    if not assume_simple:
        und = und.distinct()
    und = und.withColumn("w", F.lit(1).cast("long"))
    if small:
        return _louvain_local(und, rounds, levels, mirror=False)
    return _louvain_hierarchy(und, rounds, levels)


def louvain_weighted(
    edges: DataFrame,
    rounds: int = 4,
    levels: int = 2,
    n_edge_rows: int | None = None,
) -> DataFrame:
    """Weight-aware hierarchical Louvain: the edge ``weight`` column
    (projection multiplicity — lineitem count per customer-supplier
    pair) enters every degree / kin / sigma sum, mirroring GDS Louvain
    with ``relationshipWeightProperty`` (ref graph_queries.cyp:19-30 —
    the reference's graph carries MERGE multiplicities the unweighted
    variant ignores). Weights are integer counts, so the gain scores
    stay integer-exact; everything else (seed, parity sweeps,
    contraction, levels) is identical to :func:`louvain`."""
    # Same size-gated local path as louvain() (r19): the footer bound
    # proves smallness without the count job; the checkpoint stays (it
    # keeps the projection's final aggregate parallel — see louvain()).
    # mirror=True accumulates both orientations in memory — exactly
    # louvain_exact's weighted loader.
    edges = materialized(edges)
    fwd = edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    if (
        n_edge_rows is not None and 2 * n_edge_rows <= LOCAL_MOVE_EDGES
    ) or 2 * edges.count() <= LOCAL_MOVE_EDGES:
        return _louvain_local(fwd, rounds, levels, mirror=True)
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
    ``LOCAL_MOVE_EDGES`` their rounds run as a single executor task
    (:func:`_louvain_moves_local`) instead of the distributed loop —
    the r6 plan spent 2+ s of pure job-scheduling latency moving a
    326-community graph through 4 checkpointed rounds."""
    parts = und.repartition("src").persist()
    labels = _louvain_moves(parts, rounds)
    for _ in range(levels - 1):
        sup = _contract(parts, labels).localCheckpoint(eager=True)
        parts.unpersist()
        parts = sup
        if sup.count() <= LOCAL_MOVE_EDGES:
            upper = _louvain_moves_local(sup, rounds)
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


def _cc_local(base: DataFrame, rounds: int) -> DataFrame:
    """Single-task execution of the star rounds for an edge list known
    to fit one executor (``<= LOCAL_MOVE_EDGES`` normalized rows —
    gated by :func:`connected_components` on the already-checkpointed
    ``base``, r19). ``coalesce(1)`` funnels the edge list into one
    ``mapInPandas`` task running :func:`_cc_star_np`: one Spark job for
    all ``rounds`` star pairs + the root aggregate, instead of ~10
    lazily-checkpointed jobs of sub-second stages (the bench row's 49
    jobs at sf0.1 are job-dispatch latency, not compute — guide §1.2).
    Above the gate the distributed round loop runs unchanged (the
    100 TB path). Equality is pinned by tests/test_graph.py."""

    def kernel(batches):
        import pyarrow as pa

        tabs = [pa.Table.from_batches([b]) for b in batches]
        if not tabs:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                names=["node_id", "component"],
            )
            return
        t = pa.concat_tables(tabs)
        codes, names = _factorize_sorted_arrow(
            [t.column("a"), t.column("b")]
        )
        comp = _cc_star_np(
            codes[: t.num_rows], codes[t.num_rows:], len(names), rounds
        )
        yield pa.RecordBatch.from_arrays(
            [names, names.take(pa.array(comp))],
            names=["node_id", "component"],
        )

    return base.coalesce(1).mapInArrow(
        kernel, "node_id string, component string"
    )


def cc_pairs_local(
    pairs: DataFrame, rounds: int, min_weight: int = 1
) -> DataFrame:
    """Fused single-task connected components over the RAW
    customer-supplier pairs (r20, guide §1.2/§2.4): ONE mapInArrow job
    replaces the projection aggregate + thinning filter + normalize/
    distinct checkpoint + the string-fed kernel job. The kernel
    dedups/counts the int pairs, drops pairs under ``min_weight`` (the
    weight >= k thinning), builds codes from the SURVIVING pairs' keys
    only (nodes isolated by thinning are absent, exactly like the
    distributed base), and replays :func:`_cc_star_np`. Normalization
    is implicit: every pair is (c-node, s-node) and 'c' < 's' in byte
    order, so least/greatest == (src, dst) and a == b is impossible.
    Callers must have PROVEN the graph small (footer bound); above the
    gate the projection + distributed star rounds run byte-unchanged.
    Parity pinned by tests/test_local_kernels.py at the bench SFs."""

    def kernel(batches):
        import pyarrow as pa

        schema = pa.schema(
            [pa.field("node_id", pa.string()), pa.field("component", pa.string())]
        )
        tabs = [pa.Table.from_batches([b]) for b in batches]
        if not tabs:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                schema=schema,
            )
            return
        t = pa.concat_tables(tabs)
        uc, us, cnt = _pairs_dedup(t)
        keep = cnt >= min_weight
        uc, us = uc[keep], us[keep]
        if not len(uc):
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.string())],
                schema=schema,
            )
            return
        s, d, names = _pair_codes(uc, us)
        comp = _cc_star_np(s, d, len(names), rounds)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(names.tolist(), pa.string()),
                pa.array(names[comp].tolist(), pa.string()),
            ],
            schema=schema,
        )

    return pairs.coalesce(1).mapInArrow(
        kernel, "node_id string, component string"
    )


def connected_components(
    edges: DataFrame,
    rounds: int = 3,
    dedup_every: int = 2,
    n_edge_rows: int | None = None,
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
    ``dedup_every=1`` restores the pre-r8 every-round distinct. r9
    same-minute interleaved A/B at sf0.1 (5 round pairs, 12.9k edges, 4
    alternated runs per arm, noise probe 0.29-0.31 s — a quiet minute):
    trim ON min/med 3.898/4.032 s vs trim OFF 4.106/4.214 s — a real
    but modest ~4-5% win, NOT the "~15%" the r8 comment claimed (that
    number came from an unrecorded intermediate on a noisy host), and
    the r8 bench "regression" (4.598 -> 4.890 s) was host drift, not
    this change. Phase split on the same minute: ~1.5 s of the bench
    row is the customer-supplier edge projection evaluated inside
    ``base``'s checkpoint; the 5 star round-pairs themselves run
    ~2.4-2.6 s (per-round scheduling latency on 12.9k edges, amortized
    on a real cluster). The trim stays: the asymptotic argument holds
    (one fewer edge-sized shuffle per skipped round) and output
    invariance is test-pinned across round parities.

    ADAPTIVE cadence (dedup only when the un-deduped frame exceeds ~2x
    the last deduped size) is a documented NO-GO at bench scale (r10
    verdict's optional ask, closed r11 by arithmetic from recorded
    measurements): the whole fixed-cadence win is ~0.17-0.2 s at sf0.1
    (4-5% of the ~4 s row, r9 A/B above), while the size detector needs
    one count job per round — an eager driver sync costing 0.1-0.7 s
    each (r9 job-fixed-cost finding) — so >=5 rounds of detection cost
    2.5x+ the entire prize they could at best preserve. On a real
    cluster the trade inverts (a count on a materialized frame is
    seconds; an avoidable edge-sized shuffle is minutes) — but there
    ``rounds`` is also no longer fixed-for-the-oracle, so the adaptive
    variant belongs in a convergence-driven deployment mode, not this
    oracle-replayable operator.

    The distributed branch is job-dispatch-latency-bound on small
    inputs: it ran 49 jobs per execution over sf0.1's 12.9k edges
    (counted via statusTracker), so its wall time there tracks the
    host's per-job latency, not the edge work.
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
    # Size-gated single-task path (r19). ``n_edge_rows`` (optional
    # caller bound, e.g. a parquet footer fact count; base rows <=
    # input edge rows) can only PROVE smallness — skipping the count
    # job — never force the distributed path. The checkpoint stays
    # either way: it keeps the normalize+distinct reduce side parallel,
    # where the kernel's coalesce(1) would serialize it.
    base = base.localCheckpoint(eager=True)
    if (
        n_edge_rows is not None and n_edge_rows <= LOCAL_MOVE_EDGES
    ) or base.count() <= LOCAL_MOVE_EDGES:
        return _cc_local(base, rounds)
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
