"""Closed-form gates for the graph algorithms (SURVEY §5.5) and the
ANN recall gates promised by README / operators docstrings.

Graph algorithms are verified two ways:
  * against hand-computable results on tiny graphs (path, star, cycle);
  * against independent pure-Python reimplementations (pagerank, BFS)
    and the driver-side exact Brandes (betweenness_distributed), which
    share no code with the DataFrame programs under test.
"""

from __future__ import annotations

from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from ut_data_engineering_group_project_2022_spark.operators import graph, similarity
from ut_data_engineering_group_project_2022_spark.catalog import table


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# --- PageRank -------------------------------------------------------------


def _py_pagerank(directed_pairs, iterations, damping):
    """Independent reference implementation (adjacency dicts, no Spark)."""
    out = defaultdict(list)
    nodes = set()
    for s, d in directed_pairs:
        out[s].append(d)
        nodes.update((s, d))
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(float)
        for s, ds in out.items():
            for d in ds:
                contrib[d] += pr[s] / len(ds)
        pr = {v: (1 - damping) / n + damping * contrib[v] for v in nodes}
    return {v: round(p, 6) for v, p in pr.items()}


def test_pagerank_matches_reference_impl(spark):
    pairs = [
        ("a", "b"), ("b", "a"),
        ("b", "c"), ("c", "b"),
        ("c", "d"), ("d", "c"),
        ("a", "d"), ("d", "a"),
        ("e", "a"), ("a", "e"),
    ]
    got = {
        r["node_id"]: r["pagerank"]
        for r in graph.pagerank(_edges(spark, pairs), 3, 0.85).collect()
    }
    assert got == _py_pagerank(pairs, 3, 0.85)


def test_pagerank_symmetric_graph_uniform(spark):
    # On a regular symmetric graph (triangle) PageRank stays uniform.
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c")]
    got = {
        r["node_id"]: r["pagerank"]
        for r in graph.pagerank(_edges(spark, pairs), 4, 0.85).collect()
    }
    assert got == {"a": round(1 / 3, 6), "b": round(1 / 3, 6), "c": round(1 / 3, 6)}


# --- Label propagation ----------------------------------------------------


def test_label_propagation_two_components(spark):
    # Two disconnected components converge to the min node id of each.
    pairs = [("b", "c"), ("c", "d"), ("x", "y"), ("y", "z")]
    got = {
        r["node_id"]: r["community"]
        for r in graph.label_propagation(_edges(spark, pairs), max_iter=5).collect()
    }
    assert got == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x", "z": "x"}


# --- Louvain (one-level modularity moves) ---------------------------------


def _clique(names):
    return [(a, b) for a in names for b in names if a < b]


def test_louvain_two_cliques_split(spark):
    # Two 4-cliques joined by one bridge: modularity-gain moves must land
    # each clique in a single community and keep the two cliques apart.
    pairs = _clique(["a1", "a2", "a3", "a4"]) + _clique(
        ["b1", "b2", "b3", "b4"]
    ) + [("a1", "b1")]
    got = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    a_comms = {got[v] for v in ("a1", "a2", "a3", "a4")}
    b_comms = {got[v] for v in ("b1", "b2", "b3", "b4")}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms


def test_louvain_second_level_merges_stranded_bridge(spark):
    # Barbell: two 5-cliques joined through a single bridge node m. The
    # level-1 local-moving phase strands m as a singleton community (the
    # canonical one-level Louvain artifact: neither clique offers m a
    # positive gain while every clique node's own community dominates).
    # The coarsening level must repair it — any singleton attached to a
    # community is a strict modularity gain once contracted — matching
    # GDS's hierarchical behavior. Closed form: exactly 2 communities,
    # each clique intact, m absorbed into one of them.
    pairs = (
        _clique(["x1", "x2", "x3", "x4", "x5"])
        + _clique(["y1", "y2", "y3", "y4", "y5"])
        + [("x1", "m"), ("m", "y1")]
    )
    one = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4, levels=1).collect()
    }
    two = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4, levels=2).collect()
    }
    # level 1 strands the bridge in its own community
    assert one["m"] not in {one["x1"], one["y1"]}
    assert len(set(one.values())) == 3
    # level 2: two communities, cliques intact, bridge absorbed
    assert len(set(two.values())) == 2
    assert len({two[v] for v in ("x1", "x2", "x3", "x4", "x5")}) == 1
    assert len({two[v] for v in ("y1", "y2", "y3", "y4", "y5")}) == 1
    assert two["m"] in {two["x1"], two["y1"]}


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src string, dst string, weight long")


_TRI_A = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
_TRI_B = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]


def test_louvain_weighted_uniform_weights_match_unweighted(spark):
    # Uniform weights scale every gain score by w^2, so the argmax — and
    # therefore the whole trajectory — must be identical to unweighted.
    pairs = _TRI_A + _TRI_B + [("a1", "b1")]
    uni = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    wgt = {
        r["node_id"]: r["community"]
        for r in graph.louvain_weighted(
            _wedges(spark, [(u, v, 7) for u, v in pairs]), rounds=4
        ).collect()
    }
    assert uni == wgt


def test_louvain_weighted_heavy_bridge_changes_communities(spark):
    # Two light triangles joined by a weight-10 bridge: the same topology
    # must yield DIFFERENT communities once weights enter the gain sums
    # (the unweighted variant cannot see the bridge dominating b1's
    # light intra-triangle ties) — proving the weight column actually
    # flows through deg/kin/sigma rather than being dropped.
    light = [(u, v, 1) for u, v in _TRI_A + _TRI_B]
    wgt = {
        r["node_id"]: r["community"]
        for r in graph.louvain_weighted(
            _wedges(spark, light + [("a1", "b1", 10)]), rounds=4
        ).collect()
    }
    unw = {
        r["node_id"]: r["community"]
        for r in graph.louvain(
            _edges(spark, _TRI_A + _TRI_B + [("a1", "b1")]), rounds=4
        ).collect()
    }
    assert len({wgt[v] for v in ("a1", "a2", "a3")}) == 1  # a-side intact
    assert wgt != unw


@pytest.mark.parametrize(
    "triples",
    [
        [(u, v, 1) for u, v in _TRI_A + _TRI_B] + [("a1", "b1", 10)],
        [("a", "b", 3), ("b", "c", 1), ("c", "d", 7), ("d", "a", 2)],
        [(u, v, 2 + i % 3) for i, (u, v) in enumerate(_clique(["p", "q", "r", "s"]))],
    ],
)
def test_louvain_weighted_matches_driver_simulation(spark, triples):
    dist = {
        r["node_id"]: r["community"]
        for r in graph.louvain_weighted(_wedges(spark, triples), rounds=4).collect()
    }
    sim = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(
            _wedges(spark, triples), rounds=4, weighted=True
        ).collect()
    }
    assert dist == sim


@pytest.mark.parametrize(
    "pairs",
    [
        _clique(["a1", "a2", "a3", "a4"])
        + _clique(["b1", "b2", "b3", "b4"])
        + [("a1", "b1")],
        # path + pendant star: asymmetric degrees exercise the gain term
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
         ("x", "c"), ("x", "y"), ("x", "z")],
        # cycle C6
        [("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
         ("n4", "n5"), ("n5", "n6"), ("n6", "n1")],
        # barbell: exercises the coarsening level (bridge merge)
        _clique(["x1", "x2", "x3", "x4", "x5"])
        + _clique(["y1", "y2", "y3", "y4", "y5"])
        + [("x1", "m"), ("m", "y1")],
    ],
)
def test_louvain_matches_driver_simulation(spark, pairs):
    dist = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    sim = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(_edges(spark, pairs), rounds=4).collect()
    }
    assert dist == sim


# --- Betweenness ----------------------------------------------------------


def test_betweenness_exact_path_graph(spark):
    # P4 a-b-c-d: inner nodes lie on 2 shortest paths each, ends on none.
    got = {
        r["node_id"]: r["betweenness"]
        for r in graph.betweenness_exact(
            _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        ).collect()
    }
    assert got == {"a": 0.0, "b": 2.0, "c": 2.0, "d": 0.0}


def test_betweenness_exact_star_graph(spark):
    # Star K_{1,4}: center on all C(4,2)=6 leaf pairs' shortest paths.
    got = {
        r["node_id"]: r["betweenness"]
        for r in graph.betweenness_exact(
            _edges(spark, [("x", "l1"), ("x", "l2"), ("x", "l3"), ("x", "l4")])
        ).collect()
    }
    assert got == {"x": 6.0, "l1": 0.0, "l2": 0.0, "l3": 0.0, "l4": 0.0}


@pytest.mark.parametrize(
    "pairs",
    [
        [("a", "b"), ("b", "c"), ("c", "d")],
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        [("a", "b"), ("b", "c"), ("p", "q"), ("q", "r"), ("r", "p")],
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d")],
    ],
    ids=["path", "diamond", "two-components", "barbell"],
)
def test_betweenness_distributed_matches_exact(spark, pairs):
    e = _edges(spark, pairs)
    exact = {r["node_id"]: r["betweenness"] for r in graph.betweenness_exact(e).collect()}
    dist = {
        r["node_id"]: r["betweenness"]
        for r in graph.betweenness_distributed(e).collect()
    }
    assert dist == exact


def test_betweenness_landmark_sampling_runs_scaled(spark):
    # k < n: every node still scored, estimates non-negative, deterministic.
    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    got = graph.betweenness_distributed(_edges(spark, pairs), num_landmarks=3)
    rows = {r["node_id"]: r["betweenness"] for r in got.collect()}
    assert set(rows) == {"a", "b", "c", "d", "e"}
    assert all(v >= 0.0 for v in rows.values())
    again = {
        r["node_id"]: r["betweenness"]
        for r in graph.betweenness_distributed(
            _edges(spark, pairs), num_landmarks=3
        ).collect()
    }
    assert again == rows


# --- Bounded reachability -------------------------------------------------


def _py_bfs_pairs(pairs, max_hops):
    und = defaultdict(set)
    for s, d in pairs:
        und[s].add(d)
        und[d].add(s)
    out = set()
    for s in und:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] >= max_hops:
                continue
            for w in und[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        out.update((s, t, d) for t, d in dist.items() if t != s)
    return out


def test_bounded_reachability_matches_bfs(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "e")]
    for hops in (1, 2, 3):
        got = {
            (r["src"], r["dst"], r["hops"])
            for r in graph.bounded_reachability(_edges(spark, pairs), hops).collect()
        }
        assert got == _py_bfs_pairs(pairs, hops), f"hops={hops}"


# --- ANN recall gates (README: "recall vs the brute-force baseline") ------


def _topk_sets(rows):
    by_q = defaultdict(set)
    for r in rows:
        by_q[r["query_id"]].add(r["neighbor_id"])
    return by_q


def _recall_at_5(exact_rows, approx_rows):
    ex = _topk_sets(exact_rows)
    ap = _topk_sets(approx_rows)
    per_q = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    return sum(per_q) / len(per_q)


@pytest.fixture(scope="module")
def knn_exact(spark):
    emb = table(spark, SF_DIR, "embeddings")
    return similarity.knn_bruteforce(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10), k=5
    ).collect()


def test_knn_ivf_recall(spark, knn_exact):
    emb = table(spark, SF_DIR, "embeddings")
    approx = similarity.knn_ivf(emb, k=5).collect()
    assert _recall_at_5(knn_exact, approx) >= 0.6


def test_knn_lsh_recall(spark, knn_exact):
    # Same universe as the brute-force baseline: query ids < 10, corpus
    # >= 10 — take enough LSH candidates to re-rank the corpus-side top-5.
    emb = table(spark, SF_DIR, "embeddings")
    lsh = (
        similarity.knn_lsh(emb, k=50, dim=64, n_tables=8, n_bits=4)
        .filter((F.col("query_id") < 10) & (F.col("neighbor_id") >= 10))
        .collect()
    )
    by_q = defaultdict(list)
    for r in lsh:
        by_q[r["query_id"]].append((r["score"], r["neighbor_id"]))
    top5 = [
        {"query_id": q, "neighbor_id": n}
        for q, cands in by_q.items()
        for _, n in sorted(cands, key=lambda t: (-t[0], t[1]))[:5]
    ]
    assert _recall_at_5(knn_exact, top5) >= 0.6


# --- Size-gated join strategy (broadcast vs co-partitioned kernels) -------


def test_pagerank_large_graph_branch_matches_broadcast_branch(spark):
    # broadcast_nodes=0 forces the >BROADCAST_NODES code path (edges
    # cached by src, share vector shuffled instead of broadcast); both
    # kernels must be numerically identical — the gate picks a physical
    # strategy, never a different algorithm.
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")]
    small = {
        r["node_id"]: r["pagerank"]
        for r in graph.pagerank(_edges(spark, pairs), 3, 0.85).collect()
    }
    large = {
        r["node_id"]: r["pagerank"]
        for r in graph.pagerank(
            _edges(spark, pairs), 3, 0.85, broadcast_nodes=0
        ).collect()
    }
    assert small == large


def test_louvain_large_graph_branch_matches_broadcast_branch(
    spark, monkeypatch
):
    pairs = _clique(["a1", "a2", "a3", "a4"]) + _clique(
        ["b1", "b2", "b3", "b4"]
    ) + [("a1", "b1")]
    small = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    monkeypatch.setattr(graph, "BROADCAST_NODES", 0)
    large = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    assert small == large
    # and both equal the driver-side simulation — the large branch is
    # pinned to the semantics, not merely to the other branch
    exact = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(_edges(spark, pairs), rounds=4).collect()
    }
    assert large == exact


def test_louvain_distributed_contracted_level_matches_local_kernel(
    spark, monkeypatch
):
    """The contracted (level-2+) rounds normally run as one single-task
    executor kernel (LOCAL_MOVE_EDGES gate); force the distributed
    round loop on the contracted graph and pin both paths equal, and
    equal to the driver simulation."""
    pairs = _clique(["a1", "a2", "a3", "a4"]) + _clique(
        ["b1", "b2", "b3", "b4"]
    ) + _clique(["c1", "c2", "c3"]) + [("a1", "b1"), ("b2", "c1")]
    local = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 0)
    dist = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    assert local == dist
    exact = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(_edges(spark, pairs), rounds=4).collect()
    }
    assert dist == exact


def test_louvain_contracted_level_kernel_matches_exact(spark, monkeypatch):
    """A gate just under the input size sends level 1 through the
    distributed rounds and the contracted level 2 through the one-level
    local kernel; the result must equal the driver simulation. The
    barbell is used because its level 2 must move a node (it absorbs
    the bridge that level 1 strands, see the test above)."""
    pairs = (
        _clique(["x1", "x2", "x3", "x4", "x5"])
        + _clique(["y1", "y2", "y3", "y4", "y5"])
        + [("x1", "m"), ("m", "y1")]
    )
    monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 2 * len(pairs) - 1)
    levels_run = []
    kernel = graph.louvain_local

    def spy(df, feed, rounds=4, levels=2):
        levels_run.append(levels)
        return kernel(df, feed, rounds, levels)

    monkeypatch.setattr(graph, "louvain_local", spy)
    got = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    assert levels_run == [1]
    assert len(set(got.values())) == 2
    exact = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(_edges(spark, pairs), rounds=4).collect()
    }
    assert got == exact


def test_louvain_overflow_fallback_matches_exact(spark, monkeypatch):
    """Past ``_NP_TWO_M_MAX`` the kernel switches to the dict kernel;
    forcing that switch, both feeds must still equal the driver
    simulation (the patched value travels with the pickled kernel)."""
    monkeypatch.setattr(graph, "_NP_TWO_M_MAX", -1)
    pairs = _clique(["a1", "a2", "a3", "a4"]) + _clique(
        ["b1", "b2", "b3", "b4"]
    ) + [("a1", "b1")]
    got = {
        r["node_id"]: r["community"]
        for r in graph.louvain(_edges(spark, pairs), rounds=4).collect()
    }
    exact = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(_edges(spark, pairs), rounds=4).collect()
    }
    assert got == exact
    # weighted pair feed: two heavy customer-supplier blocks, one light
    # bridge; each triple is repeated `n` times as raw lineitem pairs
    weighted = [
        (c, s, 3) for c in (1, 2, 3) for s in (1, 2)
    ] + [(c, s, 2) for c in (4, 5, 6) for s in (3, 4)] + [(3, 3, 1)]
    raw = spark.createDataFrame(
        [(c, s) for c, s, n in weighted for _ in range(n)],
        "o_custkey bigint, l_suppkey bigint",
    )
    got = {
        r["node_id"]: r["community"]
        for r in graph.louvain_local(
            raw, graph.pair_feed(weighted=True), rounds=4
        ).collect()
    }
    exact = {
        r["node_id"]: r["community"]
        for r in graph.louvain_exact(
            _wedges(spark, [(f"c{c}", f"s{s}", n) for c, s, n in weighted]),
            rounds=4,
            weighted=True,
        ).collect()
    }
    assert got == exact


def test_label_propagation_large_graph_branch_matches(spark, monkeypatch):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    small = {
        r["node_id"]: r["community"]
        for r in graph.label_propagation(_edges(spark, pairs), 5).collect()
    }
    monkeypatch.setattr(graph, "BROADCAST_NODES", 0)
    large = {
        r["node_id"]: r["community"]
        for r in graph.label_propagation(_edges(spark, pairs), 5).collect()
    }
    assert small == large


def test_knn_pq_rerank_recall(spark, knn_exact):
    # PQ shortlist (compressed 16x4 ADC scan) + exact re-rank of 100
    # candidates: >= 0.8 recall on the near-orthogonal synthetic
    # embeddings (PQ's worst-case data; 0.9 measured).
    emb = table(spark, SF_DIR, "embeddings")
    approx = similarity.knn_pq_rerank(emb, k=5, shortlist=100, m=16).collect()
    assert _recall_at_5(knn_exact, approx) >= 0.8


def test_knn_pq_adc_beats_random(spark, knn_exact):
    # The raw ADC scan (no re-rank) must still rank far above chance:
    # random top-5 over a 490-vector corpus would land ~0.01 recall.
    emb = table(spark, SF_DIR, "embeddings")
    approx = similarity.knn_pq(emb, k=5, m=16).collect()
    assert _recall_at_5(knn_exact, approx) >= 0.2


# --- k-core peel ----------------------------------------------------------


def test_kcore_cycle_survives_path_dissolves(spark):
    # A 4-cycle is exactly its own 2-core; a path peels from the
    # endpoints inward, one hop per round, until nothing remains.
    cycle = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    got = {
        r["node_id"]: r["in_core"]
        for r in graph.kcore(_edges(spark, cycle), k=2, rounds=3).collect()
    }
    assert all(got.values()) and len(got) == 4
    path = [("p1", "p2"), ("p2", "p3"), ("p3", "p4")]
    got = {
        r["node_id"]: r["in_core"]
        for r in graph.kcore(_edges(spark, path), k=2, rounds=3).collect()
    }
    assert not any(got.values()) and len(got) == 4


def test_kcore_bounded_rounds_cascade(spark):
    # A 5-node path with k=2 peels one layer per round: after ONE round
    # only the endpoints are gone (q2..q4 still flagged), showing the
    # peel is synchronous and bounded by the round count.
    path = [("q1", "q2"), ("q2", "q3"), ("q3", "q4"), ("q4", "q5")]
    got = {
        r["node_id"]: r["in_core"]
        for r in graph.kcore(_edges(spark, path), k=2, rounds=1).collect()
    }
    assert got == {"q1": False, "q2": True, "q3": True, "q4": True, "q5": False}


# --- Connected components (large-star/small-star) -------------------------


def _py_components(pairs):
    """Independent union-find reference (no Spark code shared)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_connected_components_tiny_graphs(spark):
    # two components: a path and a triangle, plus a reversed/duplicate edge
    pairs = [
        ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
        ("x1", "x2"), ("x2", "x3"), ("x3", "x1"), ("x2", "x1"),
    ]
    got = {
        r.node_id: r.component
        for r in graph.connected_components(_edges(spark, pairs), rounds=3).collect()
    }
    assert got == _py_components(pairs)


def test_connected_components_rejects_bad_dedup_cadence(spark):
    # r9 ADVICE: dedup_every=0 used to ZeroDivisionError mid-plan and
    # negatives silently disabled dedup; both must fail fast at entry.
    import pytest

    e = _edges(spark, [("a", "b")])
    for bad in (0, -1):
        with pytest.raises(ValueError, match="dedup_every"):
            graph.connected_components(e, rounds=2, dedup_every=bad)


def test_connected_components_duplicate_tolerant_rounds(spark):
    # r8: intermediate per-star distinct()s were dropped (dedup now runs
    # every 2nd round only) on the argument that every consumer of the
    # edge stream is a keyed MIN aggregate — pin that claim on an input
    # with heavy duplicate multiplicity, both orientations, and
    # self-loops, across round counts that end mid-dedup-cycle (odd
    # rounds never hit the periodic distinct after the last star pair).
    pairs = (
        [("a", "b")] * 4
        + [("b", "a")] * 3
        + [("b", "c"), ("c", "b"), ("c", "c")]
        + [("q", "r")] * 2
    )
    expect = _py_components([(a, b) for a, b in pairs if a != b])
    for rounds in (1, 2, 3):
        got = {
            r.node_id: r.component
            for r in graph.connected_components(
                _edges(spark, pairs), rounds=rounds
            ).collect()
        }
        assert got == expect, f"rounds={rounds}"
    # r9: dedup cadence is a parameter (for the A/B harness) — every-round
    # distinct (the pre-r8 form) must give the identical answer.
    got1 = {
        r.node_id: r.component
        for r in graph.connected_components(
            _edges(spark, pairs), rounds=3, dedup_every=1
        ).collect()
    }
    assert got1 == expect


def test_connected_components_matches_union_find_and_converges(spark):
    # weight >= 2 and rounds = 5 mirror the registered
    # graph_connected_components configuration
    edges = graph.customer_supplier_edges(spark, SF_DIR).filter(
        F.col("weight") >= 2
    )
    pairs = [(r.src, r.dst) for r in edges.select("src", "dst").collect()]
    expect = _py_components(pairs)
    got5 = {
        r.node_id: r.component
        for r in graph.connected_components(edges, rounds=5).collect()
    }
    assert got5 == expect
    # fixed point: one extra large-star/small-star pair changes nothing
    got6 = {
        r.node_id: r.component
        for r in graph.connected_components(edges, rounds=6).collect()
    }
    assert got6 == got5


# --- k-center coreset & MMR (closed-form semantics on synthetic inputs) ---


def _vecs(spark, rows, dim=4):
    data = [(int(i), [float(x) for x in v] + [0.0] * (dim - len(v))) for i, v in rows]
    return spark.createDataFrame(data, "vec_id bigint, embedding array<float>")


def test_kcenter_greedy_picks_one_point_per_cluster(spark):
    # three tight, well-separated clusters; k=3 must pick one point from
    # each (farthest-point traversal property), regardless of seed.
    clusters = {
        "a": [(0, [0.0, 0.0]), (1, [0.01, 0.0]), (2, [0.0, 0.01])],
        "b": [(10, [100.0, 0.0]), (11, [100.01, 0.0])],
        "c": [(20, [0.0, 100.0]), (21, [0.0, 100.01])],
    }
    emb = _vecs(spark, [r for rs in clusters.values() for r in rs])
    got = similarity.kcenter_greedy(emb, k=3).collect()
    picked = {r.vec_id for r in got}
    for rs in clusters.values():
        assert len(picked & {i for i, _ in rs}) == 1
    # covering radius sequence is non-increasing after the seed
    radii = [r.radius2 for r in sorted(got, key=lambda r: r.sel_order)][1:]
    assert radii == sorted(radii, reverse=True)


def test_mmr_rerank_skips_near_duplicate_of_first_pick(spark):
    # query = vec 0; vec 1 and vec 2 are near-identical top hits; vec 3
    # is less relevant but diverse. Plain top-2 is {1, 2}; MMR's second
    # pick must be the diverse 3, not the duplicate.
    emb = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.01, 0.0]),
            (2, [1.0, 0.011, 0.0]),
            (3, [0.7, 0.0, 0.7]),
        ],
    )
    got = sorted(
        similarity.mmr_rerank(emb, query_vec_id=0, k=2, pool=3).collect(),
        key=lambda r: r.sel_order,
    )
    assert got[0].vec_id == 1
    assert got[1].vec_id == 3


def test_mmr_rerank_pool_smaller_than_k_returns_short_selection(spark):
    # only 2 candidates exist above the query id; k=5 must return the
    # 2-row selection, not IndexError (r6 advisory)
    emb = _vecs(
        spark, [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
    )
    got = similarity.mmr_rerank(emb, query_vec_id=0, k=5, pool=10).collect()
    assert len(got) == 2
    assert [r.sel_order for r in sorted(got, key=lambda r: r.sel_order)] == [0, 1]


def test_kcenter_greedy_k_exceeding_vectors_returns_distinct_ids(spark):
    # k=6 over 3 vectors: every vector picked exactly once, no duplicate
    # re-picks of exhausted centers (r6 advisory)
    emb = _vecs(spark, [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])])
    got = similarity.kcenter_greedy(emb, k=6).collect()
    assert len(got) == 3
    assert len({r.vec_id for r in got}) == 3


def test_knn_pq_rejects_mismatched_dim(spark):
    # the in-plan gate fires on execution (no extra driver job at
    # build time), naming the mismatch instead of silently slicing
    # short subvectors. Query-side rows (vec_id < n_queries) trip the
    # per-row LUT gate ...
    emb = _vecs(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], dim=4)
    with pytest.raises(Exception, match="does not match embedding length"):
        similarity.knn_pq(emb, k=1, m=8, dim=64).collect()
    # ... corpus-side rows (vec_id >= n_queries) trip the per-group
    # gate folded into the encode aggregate (mixed frame: 64-dim
    # queries pass, the short id-10 corpus row must still fail)
    ok_q = [(i, [float(i)]) for i in range(10)]
    mixed = _vecs(spark, ok_q, dim=64).unionByName(
        _vecs(spark, [(10, [1.0, 2.0])], dim=4)
    )
    with pytest.raises(Exception, match="does not match embedding length"):
        similarity.knn_pq(mixed, k=1, m=8, dim=64).collect()
    with pytest.raises(ValueError, match="must divide"):
        similarity.knn_pq(emb, k=1, m=7, dim=64)


def test_knn_pq_rejects_null_embedding(spark):
    # NULL embeddings hard-fail the job (documented contract,
    # functions gate on min(size) which is NULL for an all-NULL group)
    ok = _vecs(spark, [(i, [float(i)]) for i in range(11)], dim=64)
    null_row = spark.createDataFrame(
        [(11, None)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="does not match embedding length"):
        similarity.knn_pq(ok.unionByName(null_row), k=1, m=8, dim=64).collect()
