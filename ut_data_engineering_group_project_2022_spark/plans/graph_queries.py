"""Graph analytics queries (SURVEY G1-G9) over the customer-supplier
bipartite graph derived from the star schema.

Every graph query carries a full DuckDB oracle: pagerank / label
propagation unroll their iterations as chained CTEs, and betweenness
unrolls the whole Brandes program (BFS levels forward, dependency
levels back — ``_betweenness_oracle()`` generates the CTE chain).
All are additionally gated by closed-form tests on hand-built graphs
in tests/test_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.catalog import (
    parquet_row_count as catalog_row_count,
    table,
)
from ut_data_engineering_group_project_2022_spark.operators import fits, graph
from ut_data_engineering_group_project_2022_spark.plans.registry import register

_EDGES_SQL = """
  SELECT 'c' || o.o_custkey::VARCHAR AS src,
         's' || l.l_suppkey::VARCHAR AS dst,
         COUNT(*) AS weight
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
"""


@register(
    "graph_edges",
    oracle=f"SELECT src, dst, weight FROM ({_EDGES_SQL})",
    doc="Graph projection: weighted customer->supplier edge DataFrame "
    "(SURVEY G1/S8; ref api_to_neo4j.py:23-83 node/edge MERGE).",
    tags=("graph",),
)
def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.customer_supplier_edges(spark, sf_dir)


@register(
    "graph_degree",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
    SELECT src AS node_id, COUNT(*) AS degree FROM e GROUP BY src
    """,
    doc="Undirected node degree over the projected graph.",
    tags=("graph",),
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = graph.undirect(graph.materialized(graph.customer_supplier_edges(spark, sf_dir)))
    return und.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


@register(
    "graph_pagerank",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    n AS (SELECT DISTINCT src AS id FROM e),
    cnt AS (SELECT COUNT(*)::DOUBLE AS nn FROM n),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    p0 AS (SELECT id, 1.0 / c.nn AS pr FROM n CROSS JOIN cnt c),
    p1 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p0.pr / deg.d) AS contrib
                 FROM e JOIN p0 ON p0.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    ),
    p2 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p1.pr / deg.d) AS contrib
                 FROM e JOIN p1 ON p1.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    ),
    p3 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p2.pr / deg.d) AS contrib
                 FROM e JOIN p2 ON p2.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    )
    SELECT id AS node_id, ROUND(pr, 6) AS pagerank FROM p3
    """,
    doc="PageRank, 3 iterations, damping 0.85 (SURVEY G2; GDS defaults, "
    "ref graph_queries.cyp:33-45) as an iterative DataFrame loop; oracle "
    "unrolls the iterations as CTEs.",
    tags=("graph", "pagerank"),
    bench=True,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused feed: when the lineitem footer proves the undirected graph
    # within LOCAL_MOVE_EDGES (directed edges <= lineitem rows, two
    # undirected rows each; zero jobs), the whole row runs as ONE
    # mapInArrow task over the RAW int join pairs — the projection
    # aggregate, its exchange, the checkpoint, and the string
    # factorization all disappear, and only the ~|V| label rows come
    # back. Otherwise the projection + distributed plan below runs.
    if fits(graph.LOCAL_MOVE_EDGES // 2, catalog_row_count(sf_dir, "lineitem")):
        return graph.pagerank_local(
            graph.customer_supplier_pairs(spark, sf_dir),
            graph.pair_feed(),
            iterations=3,
            damping=0.85,
        )
    eds = graph.customer_supplier_edges(spark, sf_dir)
    # The checkpoint stays on this path: it keeps the projection
    # aggregate parallel (eliding it measured slower in r19 — the
    # kernel's coalesce(1) serializes everything upstream of it).
    ed = graph.materialized(eds)
    return graph.pagerank_sized(
        ed, 2 * ed.count(), iterations=3, damping=0.85, mirror=True
    )


@register(
    "graph_node_similarity",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    nbr AS (SELECT src, dst FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM nbr GROUP BY src),
    shared AS (
      SELECT a.src AS c1, b.src AS c2, COUNT(*) AS shared
      FROM nbr a JOIN nbr b ON a.dst = b.dst AND a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT s.c1, s.c2,
           s.shared::DOUBLE / (d1.d + d2.d - s.shared) AS jaccard
    FROM shared s JOIN deg d1 ON d1.src = s.c1 JOIN deg d2 ON d2.src = s.c2
    WHERE s.shared::DOUBLE / (d1.d + d2.d - s.shared) >= 0.4
    """,
    doc="Node similarity: Jaccard of neighbor sets over customer pairs "
    "(SURVEY G8; ref graph_queries.cyp:85-97), self-pairs excluded. "
    "Threshold 0.4 chosen so sf0.01 yields ~2k real rows — the round-1 "
    "0.6 cutoff matched 0 rows on both engines (vacuous pass).",
    tags=("graph", "similarity"),
)
def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.customer_supplier_edges(spark, sf_dir).select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("src").alias("c1"), "dst")
    b = e.select(F.col("src").alias("c2"), F.col("dst").alias("dst_b"))
    shared = (
        a.join(b, (F.col("dst") == F.col("dst_b")) & (F.col("c1") < F.col("c2")))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    d1 = deg.select(F.col("src").alias("c1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("src").alias("c2"), F.col("d").alias("d2"))
    jac = F.col("shared").cast("double") / (
        F.col("d1") + F.col("d2") - F.col("shared")
    )
    return (
        shared.join(d1, "c1")
        .join(d2, "c2")
        .select("c1", "c2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


@register(
    "graph_reach_2hop",
    oracle=f"""
    WITH e AS ({_EDGES_SQL})
    SELECT a.src AS c_node, COUNT(DISTINCT b.src) - 1 AS n_2hop
    FROM e a JOIN e b ON a.dst = b.dst
    GROUP BY a.src
    """,
    doc="Bounded path expansion (SURVEY J11 `*1..k`): customers reachable "
    "in 2 hops (shared supplier), excluding self.",
    tags=("graph", "path"),
)
def graph_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.customer_supplier_edges(spark, sf_dir).select("src", "dst")
    b = e.select(F.col("src").alias("src_b"), F.col("dst").alias("dst_b"))
    return (
        e.join(b, F.col("dst") == F.col("dst_b"))
        .groupBy(F.col("src").alias("c_node"))
        .agg((F.countDistinct("src_b") - F.lit(1)).alias("n_2hop"))
    )


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    n AS (SELECT DISTINCT src AS id FROM e),
    l0 AS (SELECT id, id AS label FROM n),
    l1 AS (
      SELECT n.id, least(l0.label, coalesce(m.nl, l0.label)) AS label
      FROM n JOIN l0 ON l0.id = n.id
      LEFT JOIN (SELECT e.src AS id, MIN(lb.label) AS nl
                 FROM e JOIN l0 lb ON lb.id = e.dst GROUP BY e.src) m
        ON m.id = n.id
    ),
    l2 AS (
      SELECT n.id, least(l1.label, coalesce(m.nl, l1.label)) AS label
      FROM n JOIN l1 ON l1.id = n.id
      LEFT JOIN (SELECT e.src AS id, MIN(lb.label) AS nl
                 FROM e JOIN l1 lb ON lb.id = e.dst GROUP BY e.src) m
        ON m.id = n.id
    ),
    l3 AS (
      SELECT n.id, least(l2.label, coalesce(m.nl, l2.label)) AS label
      FROM n JOIN l2 ON l2.id = n.id
      LEFT JOIN (SELECT e.src AS id, MIN(lb.label) AS nl
                 FROM e JOIN l2 lb ON lb.id = e.dst GROUP BY e.src) m
        ON m.id = n.id
    ),
    l4 AS (
      SELECT n.id, least(l3.label, coalesce(m.nl, l3.label)) AS label
      FROM n JOIN l3 ON l3.id = n.id
      LEFT JOIN (SELECT e.src AS id, MIN(lb.label) AS nl
                 FROM e JOIN l3 lb ON lb.id = e.dst GROUP BY e.src) m
        ON m.id = n.id
    ),
    l5 AS (
      SELECT n.id, least(l4.label, coalesce(m.nl, l4.label)) AS label
      FROM n JOIN l4 ON l4.id = n.id
      LEFT JOIN (SELECT e.src AS id, MIN(lb.label) AS nl
                 FROM e JOIN l4 lb ON lb.id = e.dst GROUP BY e.src) m
        ON m.id = n.id
    )
    SELECT id AS node_id, label AS community FROM l5
    """,
    doc="Community detection via synchronous min-label propagation "
    "(SURVEY G6 Louvain stand-in, delta documented in operators/graph.py). "
    "Oracle unrolls the 5 synchronous rounds as CTEs: each node takes "
    "min(own label, min neighbor label) per round.",
    tags=("graph", "community"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = graph.customer_supplier_edges(spark, sf_dir)
    return graph.label_propagation(edges, max_iter=5)


def _louvain_oracle(
    rounds: int = 4, levels: int = 2, weighted: bool = False
) -> str:
    """Unrolled hierarchical-Louvain oracle (the ``_betweenness_oracle``
    technique): per level — weighted degree sums from the (possibly
    coarsened) edge list, then per round: community degree sums,
    per-node neighbor-community candidate scan over non-self edges (own
    community appended when absent), the integer gain score
    ``2m*k_iC - k_i*(sig_tot(C) - k_i[C=own])``, argmax via ROW_NUMBER
    (score DESC, cand ASC), and the md5-parity half-sweep move gate;
    between levels, contraction to weighted super-edges whose
    intra-community rows fold into the 2x self-loop convention. Mirrors
    operators/graph.py:louvain() exactly."""
    even = "('0','2','4','6','8','a','c','e')"
    if weighted:
        und0 = """(SELECT src, dst, weight::BIGINT AS w FROM e0
        UNION ALL SELECT dst, src, weight::BIGINT AS w FROM e0)"""
    else:
        und0 = """(SELECT src, dst, 1::BIGINT AS w FROM
        (SELECT DISTINCT src, dst FROM
           (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)))"""
    parts = [
        f"""WITH e0 AS ({_EDGES_SQL}),
    und0 AS MATERIALIZED (SELECT * FROM {und0}),
    tm AS (SELECT SUM(w)::BIGINT AS m2 FROM und0)"""
    ]
    for lv in range(levels):
        parts.append(
            f""",
    deg_l{lv} AS MATERIALIZED (SELECT src AS id, SUM(w)::BIGINT AS k
        FROM und{lv} GROUP BY 1),
    l{lv}r0 AS (SELECT id, id AS label FROM deg_l{lv})"""
        )
        for r in range(rounds):
            mover_is_even = "TRUE" if r % 2 == 0 else "FALSE"
            parts.append(
                f""",
    sig_l{lv}r{r} AS MATERIALIZED (SELECT l.label, SUM(d.k)::BIGINT AS sig
        FROM l{lv}r{r} l JOIN deg_l{lv} d ON d.id = l.id GROUP BY 1),
    nbrc_l{lv}r{r} AS MATERIALIZED (
        SELECT u.src AS id, l.label AS cand, SUM(u.w)::BIGINT AS kin
        FROM und{lv} u JOIN l{lv}r{r} l ON l.id = u.dst
        WHERE u.src <> u.dst GROUP BY 1, 2),
    cand_l{lv}r{r} AS (
        SELECT id, cand, kin FROM nbrc_l{lv}r{r}
        UNION ALL
        SELECT l.id, l.label AS cand, 0::BIGINT AS kin FROM l{lv}r{r} l
        WHERE NOT EXISTS (SELECT 1 FROM nbrc_l{lv}r{r} n
                          WHERE n.id = l.id AND n.cand = l.label)),
    best_l{lv}r{r} AS MATERIALIZED (
        SELECT id, cand FROM (
            SELECT c.id, c.cand, ROW_NUMBER() OVER (
                PARTITION BY c.id ORDER BY
                t.m2 * c.kin - d.k * (s.sig -
                    CASE WHEN c.cand = l.label THEN d.k ELSE 0 END) DESC,
                c.cand ASC) AS rn
            FROM cand_l{lv}r{r} c
            JOIN deg_l{lv} d ON d.id = c.id
            JOIN l{lv}r{r} l ON l.id = c.id
            JOIN sig_l{lv}r{r} s ON s.label = c.cand
            CROSS JOIN tm t)
        WHERE rn = 1),
    l{lv}r{r + 1} AS MATERIALIZED (
        SELECT l.id,
               CASE WHEN (substr(md5(l.id), 1, 1) IN {even}) = {mover_is_even}
                    THEN b.cand ELSE l.label END AS label
        FROM l{lv}r{r} l JOIN best_l{lv}r{r} b ON b.id = l.id)"""
            )
        if lv < levels - 1:
            parts.append(
                f""",
    und{lv + 1} AS MATERIALIZED (
        SELECT la.label AS src, lb.label AS dst, SUM(u.w)::BIGINT AS w
        FROM und{lv} u
        JOIN l{lv}r{rounds} la ON la.id = u.src
        JOIN l{lv}r{rounds} lb ON lb.id = u.dst
        GROUP BY 1, 2)"""
            )
    # Compose the per-level maps: base node -> level-0 community -> ...
    joins, sel = [], "m0.label"
    for lv in range(1, levels):
        joins.append(
            f"JOIN l{lv}r{rounds} m{lv} ON m{lv}.id = m{lv - 1}.label"
        )
        sel = f"m{lv}.label"
    parts.append(
        f"""
    SELECT m0.id AS node_id, {sel} AS community
    FROM l0r{rounds} m0 {' '.join(joins)}"""
    )
    return "".join(parts)


@register(
    "graph_louvain",
    oracle=_louvain_oracle(),
    doc="Hierarchical Louvain community detection (SURVEY G6; ref dags/"
    "graph_queries.cyp:19-30 GDS Louvain): two levels of modularity-gain "
    "local moves with community contraction between them — singleton "
    "seed, integer-exact gain scores, md5-parity half-sweeps (4 rounds "
    "per level), weighted super-edges at level 2 — see operators/"
    "graph.py:louvain(). The oracle unrolls both levels (8 move rounds "
    "plus the contraction) as CTEs, and tests/test_graph.py pins the "
    "distributed program against a driver-side simulation plus "
    "closed-form splits (two cliques; nested ring-of-cliques).",
    tags=("graph", "community"),
    bench=True,
)
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused feed (see graph_pagerank): footer-proven-small graphs run
    # projection-dedup + the whole hierarchy as ONE mapInArrow task over
    # the raw int join pairs; otherwise the projection + distributed
    # hierarchy runs.
    if fits(graph.LOCAL_MOVE_EDGES // 2, catalog_row_count(sf_dir, "lineitem")):
        return graph.louvain_local(
            graph.customer_supplier_pairs(spark, sf_dir),
            graph.pair_feed(),
            rounds=4,
        )
    edges = graph.customer_supplier_edges(spark, sf_dir)
    # The projection groupBy emits unique (c*, s*) pairs in disjoint node
    # namespaces, so the undirected union is duplicate-free by
    # construction — skip the no-op distinct shuffle.
    return graph.louvain(edges, rounds=4, assume_simple=True)


@register(
    "graph_louvain_weighted",
    oracle=_louvain_oracle(weighted=True),
    doc="Weight-aware hierarchical Louvain (GDS relationshipWeight"
    "Property fidelity — the ADVICE round-4 gap): identical program to "
    "graph_louvain but the lineitem-count edge weight enters every "
    "degree / kin / sigma sum, still integer-exact. Oracle is the same "
    "two-level CTE unroll seeded with the weighted edge list.",
    tags=("graph", "community"),
)
def graph_louvain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused feed (see graph_pagerank); the kernel's multiplicity counts
    # ARE the projection's lineitem-count weights.
    if fits(graph.LOCAL_MOVE_EDGES // 2, catalog_row_count(sf_dir, "lineitem")):
        return graph.louvain_local(
            graph.customer_supplier_pairs(spark, sf_dir),
            graph.pair_feed(weighted=True),
            rounds=4,
        )
    edges = graph.customer_supplier_edges(spark, sf_dir)
    return graph.louvain_weighted(edges, rounds=4)


def _betweenness_oracle(max_depth: int = 8) -> str:
    """Generate the unrolled exact-Brandes oracle for the nation graph.

    Forward: BFS levels l0..l{max_depth} (sigma = #shortest paths),
    cumulative reach r{k} for the anti-join. Backward: dependency
    levels d{max_depth}..d0, each summing sigma_v/sigma_w*(1+delta_w)
    over shortest-path-DAG successors one level down — the same
    level-synchronous program operators/graph.py runs as frontier
    joins. Depth 8 covers the nation co-trade graph's diameter at
    every test SF (it is near-complete; actual diameter <= 3 — BFS
    levels past the real depth are empty CTEs). Assumes diameter <=
    max_depth, exactly as the Spark side's max_depth bound does."""
    parts = [
        """WITH base AS MATERIALIZED (
      SELECT DISTINCT 'n' || c.c_nationkey::VARCHAR AS src,
                      'n' || s.s_nationkey::VARCHAR AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey != s.s_nationkey),
    e AS MATERIALIZED (SELECT src, dst FROM base
          UNION SELECT dst AS src, src AS dst FROM base),
    n AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
    l0 AS MATERIALIZED (SELECT id AS root, id AS node, 0 AS dist, 1.0 AS sigma FROM n),
    r0 AS MATERIALIZED (SELECT root, node FROM l0)"""
    ]
    for k in range(1, max_depth + 1):
        parts.append(
            f""",
    l{k} AS MATERIALIZED (
      SELECT f.root, e.dst AS node, {k} AS dist, SUM(f.sigma) AS sigma
      FROM l{k - 1} f JOIN e ON e.src = f.node
      WHERE NOT EXISTS (SELECT 1 FROM r{k - 1} r
                        WHERE r.root = f.root AND r.node = e.dst)
      GROUP BY 1, 2),
    r{k} AS MATERIALIZED (SELECT root, node FROM r{k - 1}
             UNION ALL SELECT root, node FROM l{k})"""
        )
    state = " UNION ALL ".join(
        f"SELECT * FROM l{k}" for k in range(max_depth + 1)
    )
    parts.append(
        f""",
    state AS MATERIALIZED ({state}),
    dag AS MATERIALIZED (
      SELECT sv.root, sv.node AS v, sv.dist AS dv, sv.sigma AS sigma_v,
             sw.node AS w, sw.sigma AS sigma_w
      FROM e
      JOIN state sv ON sv.node = e.src
      JOIN state sw ON sw.node = e.dst AND sw.root = sv.root
      WHERE sw.dist = sv.dist + 1),
    d{max_depth} AS MATERIALIZED (SELECT root, node, 0.0 AS delta FROM state
                     WHERE dist = {max_depth})"""
    )
    for k in range(max_depth - 1, -1, -1):
        parts.append(
            f""",
    d{k} AS MATERIALIZED (
      SELECT s.root, s.node, COALESCE(x.d, 0.0) AS delta
      FROM state s LEFT JOIN (
        SELECT g.root, g.v AS node,
               SUM(g.sigma_v / g.sigma_w * (1.0 + w.delta)) AS d
        FROM dag g JOIN d{k + 1} w ON w.root = g.root AND w.node = g.w
        WHERE g.dv = {k} GROUP BY 1, 2) x
        ON x.root = s.root AND x.node = s.node
      WHERE s.dist = {k})"""
        )
    deltas = " UNION ALL ".join(
        f"SELECT * FROM d{k}" for k in range(max_depth + 1)
    )
    parts.append(
        f""",
    deltas AS MATERIALIZED ({deltas})
    SELECT nn.id AS node_id,
           ROUND(COALESCE(t.b, 0.0) / 2.0, 6) AS betweenness
    FROM n nn LEFT JOIN (
      SELECT node, SUM(delta) AS b FROM deltas
      WHERE node != root GROUP BY 1) t
      ON t.node = nn.id"""
    )
    return "".join(parts)


@register(
    "graph_betweenness_nations",
    oracle=_betweenness_oracle(),
    doc="Betweenness centrality (SURVEY G7) on the nation co-trade graph "
    "(nations linked when a customer order ships from a supplier nation). "
    "Runs the distributed Brandes program (frontier joins, no driver-side "
    "graph) from all roots — exact here; landmark sampling is the knob at "
    "100 TB. tests/test_graph.py pins it against exact Brandes; the "
    "oracle unrolls the full forward/backward Brandes level chain.",
    tags=("graph", "centrality"),
)
def graph_betweenness_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    edges = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return graph.betweenness_distributed(edges)


# --- Derived-edge ranks (SURVEY G3/G5): variable-length path projection ---
# The reference derives author<->author / institution<->institution edges
# via `REFERENCES*1..10` path expansion, then ranks the projected graph
# (ref graph_queries.cyp:48-58 author ArticleRank, :5-16 institution
# PageRank). Same composition here: bounded_reachability (the `*1..k`
# operator) over a weight-filtered base graph -> same-type node pairs ->
# pagerank. Oracles unroll both the hop expansion and the rank iterations.

_PR2_SQL = """
    n AS (SELECT DISTINCT src AS id FROM e),
    cnt AS (SELECT COUNT(*)::DOUBLE AS nn FROM n),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    p0 AS (SELECT id, 1.0 / c.nn AS pr FROM n CROSS JOIN cnt c),
    p1 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p0.pr / deg.d) AS contrib
                 FROM e JOIN p0 ON p0.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    ),
    p2 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p1.pr / deg.d) AS contrib
                 FROM e JOIN p1 ON p1.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    )
    SELECT id AS node_id, ROUND(pr, 6) AS pagerank FROM p2
"""


def _derived_rank(
    spark: SparkSession, sf_dir: str, min_weight: int, max_hops: int, prefix: str
) -> DataFrame:
    base = graph.customer_supplier_edges(spark, sf_dir).filter(
        F.col("weight") >= min_weight
    )
    reach = graph.bounded_reachability(graph.undirect(graph.materialized(base)), max_hops)
    derived = (
        reach.filter(
            F.col("src").startswith(prefix) & F.col("dst").startswith(prefix)
        )
        .select("src", "dst")
        .distinct()
    )
    # reach is symmetric, so `derived` is already an undirected edge list.
    return graph.pagerank(derived, iterations=2, damping=0.85)


@register(
    "graph_author_rank",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    ef AS (SELECT src, dst FROM e0 WHERE weight >= 3),
    und AS (SELECT src, dst FROM ef UNION SELECT dst, src FROM ef),
    h2 AS (SELECT DISTINCT a.src, b.dst FROM und a
           JOIN und b ON a.dst = b.src WHERE a.src <> b.dst),
    h3 AS (SELECT DISTINCT a.src, b.dst FROM h2 a
           JOIN und b ON a.dst = b.src WHERE a.src <> b.dst),
    reach AS (SELECT src, dst FROM und UNION SELECT * FROM h2
              UNION SELECT * FROM h3),
    e AS (SELECT src, dst FROM reach
          WHERE src LIKE 'c%' AND dst LIKE 'c%'),
    {_PR2_SQL}
    """,
    doc="Author-rank analog (SURVEY G3; ref graph_queries.cyp:48-58): "
    "customer<->customer edges derived by `*1..3` path expansion over the "
    "weight>=3 trade graph, then 2-iteration PageRank on the projection. "
    "Oracle unrolls the hop expansion and both rank iterations as CTEs.",
    tags=("graph", "pagerank", "path"),
)
def graph_author_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derived_rank(spark, sf_dir, min_weight=3, max_hops=3, prefix="c")


@register(
    "graph_institution_rank",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    ef AS (SELECT src, dst FROM e0 WHERE weight >= 4),
    und AS (SELECT src, dst FROM ef UNION SELECT dst, src FROM ef),
    h2 AS (SELECT DISTINCT a.src, b.dst FROM und a
           JOIN und b ON a.dst = b.src WHERE a.src <> b.dst),
    h3 AS (SELECT DISTINCT a.src, b.dst FROM h2 a
           JOIN und b ON a.dst = b.src WHERE a.src <> b.dst),
    h4 AS (SELECT DISTINCT a.src, b.dst FROM h3 a
           JOIN und b ON a.dst = b.src WHERE a.src <> b.dst),
    reach AS (SELECT src, dst FROM und UNION SELECT * FROM h2
              UNION SELECT * FROM h3 UNION SELECT * FROM h4),
    e AS (SELECT src, dst FROM reach
          WHERE src LIKE 's%' AND dst LIKE 's%'),
    {_PR2_SQL}
    """,
    doc="Institution-rank analog (SURVEY G5; ref graph_queries.cyp:5-16): "
    "supplier<->supplier edges derived by `*1..4` expansion over the "
    "weight>=4 trade graph, then 2-iteration PageRank on the projection.",
    tags=("graph", "pagerank", "path"),
)
def graph_institution_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derived_rank(spark, sf_dir, min_weight=4, max_hops=4, prefix="s")


# --- Multi-hop pattern match (SURVEY J10/G9) ------------------------------


@register(
    "graph_pattern_match",
    oracle="""
    WITH uc AS (
      SELECT DISTINCT c.c_custkey, c.c_nationkey
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE o.o_orderpriority = '1-URGENT'
    )
    SELECT n.n_name, COUNT(*) AS n_pairs
    FROM uc
    JOIN supplier s ON s.s_nationkey = uc.c_nationkey
    JOIN nation n ON n.n_nationkey = uc.c_nationkey
    GROUP BY n.n_name
    """,
    doc="Cypher-style multi-hop pattern match as chained equi joins "
    "(SURVEY J10/G9; ref graph_queries.cyp:2 structure query): "
    "(customer)-[:PLACED {urgent}]->(order), (customer)-[:FROM]->(nation)"
    "<-[:FROM]-(supplier) — co-located (urgent customer, supplier) pairs "
    "per nation.",
    tags=("graph", "join"),
)
def graph_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    uc = (
        c.join(o, c.c_custkey == o.o_custkey)
        .select("c_custkey", "c_nationkey")
        .distinct()
    )
    return (
        uc.join(s, uc.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), uc.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- Venue-rank intent: derived co-occurrence edges + PageRank (G4) -------

_VENUE_EDGES_SQL = """
  SELECT 'v' || a.s AS src, 'v' || b.s AS dst
  FROM (SELECT DISTINCT l.l_suppkey AS s, l.l_partkey AS p
        FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey
        WHERE pt.p_size < 5) a
  JOIN (SELECT DISTINCT l.l_suppkey AS s, l.l_partkey AS p
        FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey
        WHERE pt.p_size < 5) b
    ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
"""


@register(
    "graph_venue_rank",
    oracle=f"""
    WITH e0 AS ({_VENUE_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    n AS (SELECT DISTINCT src AS id FROM e),
    cnt AS (SELECT COUNT(*)::DOUBLE AS nn FROM n),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    p0 AS (SELECT id, 1.0 / c.nn AS pr FROM n CROSS JOIN cnt c),
    p1 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p0.pr / deg.d) AS contrib
                 FROM e JOIN p0 ON p0.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    ),
    p2 AS (
      SELECT n.id, 0.15 / c.nn + 0.85 * COALESCE(s.contrib, 0.0) AS pr
      FROM n CROSS JOIN cnt c
      LEFT JOIN (SELECT e.dst AS id, SUM(p1.pr / deg.d) AS contrib
                 FROM e JOIN p1 ON p1.id = e.src JOIN deg ON deg.src = e.src
                 GROUP BY e.dst) s ON s.id = n.id
    )
    SELECT id AS node_id, ROUND(pr, 6) AS pagerank FROM p2
    """,
    doc="Venue-rank *intent* (SURVEY G4; ref graph_queries.cyp:61-72): the "
    "reference's projection has a source=target bug (id(v2) twice -> "
    "self-loops only); implemented as intended — derived venue<->venue "
    "co-occurrence edges (suppliers sharing >=2 small parts, the "
    "venue-pairs-via-shared-citations analog) + 2-iteration PageRank. "
    "The part filter prunes the pair blow-up before the self-join.",
    tags=("graph", "pagerank"),
)
def graph_venue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").filter(F.col("p_size") < 5)
    sp = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = sp.select(F.col("s").alias("s1"), "p")
    b = sp.select(F.col("s").alias("s2"), F.col("p").alias("p2"))
    edges = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(
            F.concat(F.lit("v"), F.col("s1").cast("string")).alias("src"),
            F.concat(F.lit("v"), F.col("s2").cast("string")).alias("dst"),
        )
    )
    return graph.pagerank(graph.undirect(edges), iterations=2, damping=0.85)


@register(
    "graph_triangle_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    e0 AS (SELECT a.s AS u, b.s AS v, COUNT(*) AS w
           FROM ps a JOIN ps b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2),
    thr AS (SELECT quantile_cont(w, 0.9) AS p FROM e0),
    e AS (SELECT u, v FROM e0, thr WHERE w >= thr.p),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node_id, COUNT(*) AS triangles FROM (
      SELECT a AS node_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri) t
    GROUP BY 1
    """,
    doc="Per-node triangle counts over the supplier co-purchase graph "
    "(suppliers joined by sharing a customer; kept if their shared-"
    "customer weight reaches the 90th percentile, so the graph stays "
    "meaningfully sparse at every SF). Triangles enumerate each (a<b<c) "
    "exactly once via two self-joins on the id-oriented edge list; at "
    "cluster scale the orientation key becomes (degree, id) so high-"
    "degree hubs don't concentrate join fan-out on one task. The "
    "customer-supplier base graph itself is bipartite (triangle-free by "
    "construction) — the co-purchase projection is where closure lives. "
    "Exact percentile == quantile_cont cross-engine (see op_percentiles).",
    tags=("graph",),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ps = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = ps.select("c", F.col("s").alias("u"))
    b = ps.select(F.col("c").alias("c2"), F.col("s").alias("v"))
    e0 = (
        a.join(b, (F.col("c") == F.col("c2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    thr = e0.agg(F.percentile("w", F.lit(0.9)).alias("p"))
    e = (
        e0.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("p"))
        .select("u", "v")
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c3"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c4"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c4") == F.col("c3")))
        .select("a", "b", F.col("c3").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node_id"))
        .unionAll(tri.select(F.col("b").alias("node_id")))
        .unionAll(tri.select(F.col("c").alias("node_id")))
    )
    return nodes.groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled k-core peel as chained CTEs (the pagerank-oracle style)."""
    ctes = [
        f"e0 AS ({_EDGES_SQL})",
        "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)",
        "a0 AS (SELECT DISTINCT src AS id FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS (SELECT e.src, COUNT(*) AS c FROM e "
            f"JOIN a{r-1} x ON x.id = e.src "
            f"JOIN a{r-1} y ON y.id = e.dst GROUP BY 1)"
        )
        ctes.append(f"a{r} AS (SELECT src AS id FROM d{r} WHERE c >= {k})")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT a0.id AS node_id, (a{rounds}.id IS NOT NULL) AS in_core
    FROM a0 LEFT JOIN a{rounds} ON a{rounds}.id = a0.id
    """
    )


@register(
    "graph_kcore",
    oracle=_kcore_oracle(30, 5),
    doc="Bounded 30-core membership after five synchronous peel rounds "
    "(nodes below degree 30 among still-alive nodes drop each round; "
    "cascades propagate one hop per round). Flags the densely-"
    "connected trading core of the customer-supplier graph — the "
    "standard preprocessing cut before community detection or "
    "influence analysis on hub structure. The oracle replays the "
    "identical rounds as chained CTEs (the pagerank-unroll style). "
    "Unbenched by choice: the per-round machinery (src-partitioned "
    "cached edges, broadcast alive vector, shuffle-free degree "
    "aggregate) is the same family the benched "
    "graph_connected_components row makes visible.",
    tags=("graph",),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.kcore(graph.customer_supplier_edges(spark, sf_dir), k=30, rounds=5)


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH e AS (SELECT src, dst FROM ({_EDGES_SQL})),
    shared AS (
      SELECT a.src AS c1, b.src AS c2, COUNT(*)::BIGINT AS shared
      FROM e a JOIN e b ON a.dst = b.dst AND a.src != b.src
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    ),
    cand AS (
      SELECT sh.c1 AS c, e.dst AS s, SUM(sh.shared)::BIGINT AS score
      FROM shared sh JOIN e ON e.src = sh.c2
      GROUP BY 1, 2
    ),
    new_links AS (
      SELECT cand.c, cand.s, cand.score
      FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM e x WHERE x.src = cand.c
                                            AND x.dst = cand.s)
    )
    SELECT c AS customer, s AS supplier, score, rn FROM (
      SELECT c, s, score,
             ROW_NUMBER() OVER (PARTITION BY c
                                ORDER BY score DESC, s) AS rn
      FROM new_links
    ) WHERE rn <= 3
    """,
    doc="Collaborative-filtering link prediction over the bipartite "
    "graph: for every customer, the top-3 suppliers they do NOT buy "
    "from, scored by the shared-supplier-weighted votes of co-"
    "purchasing customers (score(c,s) = sum over customers c' buying "
    "s of |N(c) intersect N(c')|, the weighted-common-neighbor CF "
    "recipe). The >= 5 shared-supplier floor prunes the neighbor-pair "
    "frame before the path expansion — the knob that bounds the "
    "3-hop join at scale (production would also cap neighbors per "
    "customer, same plan); existing edges anti-join out; integer "
    "scores, deterministic tiebreaks.",
    tags=("graph", "ml"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = graph.customer_supplier_edges(spark, sf_dir).select("src", "dst")
    shared = (
        e.alias("a")
        .join(e.alias("b"), "dst")
        .filter(F.col("a.src") != F.col("b.src"))
        .groupBy(F.col("a.src").alias("c1"), F.col("b.src").alias("c2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 5)
    )
    cand = (
        shared.join(e.select(F.col("src").alias("c2"), "dst"), "c2")
        .groupBy(F.col("c1").alias("c"), F.col("dst").alias("s"))
        .agg(F.sum("shared").alias("score"))
    )
    new_links = cand.join(
        e.select(F.col("src").alias("c"), F.col("dst").alias("s")),
        ["c", "s"],
        "left_anti",
    )
    w = W.partitionBy("c").orderBy(F.desc("score"), F.asc("s"))
    return (
        new_links.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("c").alias("customer"),
            F.col("s").alias("supplier"),
            F.col("score").cast("bigint").alias("score"),
            "rn",
        )
    )


def _cc_oracle(rounds: int = 3, min_weight: int = 4) -> str:
    """Unroll the alternating large-star/small-star rounds as CTEs
    (the _louvain_oracle technique), mirroring
    operators/graph.py:connected_components exactly."""
    parts = [
        f"""
    WITH ef AS (SELECT src, dst FROM ({_EDGES_SQL}) WHERE weight >= {min_weight}),
    e0 AS MATERIALIZED (
           SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM ef WHERE src != dst)"""
    ]
    # MATERIALIZED everywhere: each round references its predecessors
    # 2-3x, so plain (inlined) CTEs blow up exponentially over the
    # unroll — at 5 rounds DuckDB re-opens the parquet files thousands
    # of times ("Too many open files").
    for r in range(rounds):
        parts.append(
            f""",
    d{r} AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e{r} UNION ALL SELECT b, a FROM e{r}),
    mn{r} AS MATERIALIZED (
        SELECT u, LEAST(MIN(v), u) AS m FROM d{r} GROUP BY u),
    ls{r} AS MATERIALIZED (
        SELECT DISTINCT mn.m AS a, d.v AS b
        FROM d{r} d JOIN mn{r} mn ON mn.u = d.u WHERE d.v > d.u),
    sd{r} AS MATERIALIZED (SELECT b AS u, a AS v FROM ls{r}),
    sm{r} AS MATERIALIZED (
        SELECT u, LEAST(MIN(v), u) AS m FROM sd{r} GROUP BY u),
    e{r + 1} AS MATERIALIZED (
        SELECT DISTINCT sm.m AS a, t.x AS b
        FROM (SELECT u, v AS x FROM sd{r}
              UNION ALL SELECT u, u FROM sd{r}) t
        JOIN sm{r} sm ON sm.u = t.u WHERE t.x != sm.m)"""
        )
    return (
        "".join(parts)
        + f""",
    n AS (SELECT a AS node_id FROM e0 UNION SELECT b FROM e0),
    rt AS (SELECT b AS node_id, MIN(a) AS root FROM e{rounds} GROUP BY b)
    SELECT n.node_id, COALESCE(rt.root, n.node_id) AS component
    FROM n LEFT JOIN rt ON rt.node_id = n.node_id
    """
    )


@register(
    "graph_connected_components",
    oracle=_cc_oracle(5, min_weight=2),
    doc="Connected components of the thinned (weight >= 2) co-purchase "
    "graph via alternating large-star/small-star (Kiveris et al. 2014) "
    "— the O(log^2 n)-round distributed CC algorithm, vs min-label "
    "propagation's O(diameter). Each star application is one keyed "
    "aggregate + one join (no windows, no driver graph); rounds are "
    "FIXED at 5 pairs so the oracle unrolls identical rounds — 5 is "
    "the measured fixed point of the sf0.1 giant component (12.9k "
    "edges; round 6 is a no-op, pinned by tests/test_graph.py; at "
    "100 TB you would iterate to an empty edge-diff instead, same "
    "per-round plan). r7: thinning lowered 4 -> 2 and bench-flagged — "
    "weight >= 4 left ONE edge at sf0.1, so the bench row timed only "
    "fixed overhead.",
    tags=("graph", "community"),
    bench=True,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused feed (see graph_pagerank): the kernel's multiplicity counts
    # implement the weight >= 2 thinning, and nodes isolated by thinning
    # are absent exactly like the distributed base. CC's normalized edge
    # rows are at most the lineitem rows.
    if fits(graph.LOCAL_MOVE_EDGES, catalog_row_count(sf_dir, "lineitem")):
        return graph.cc_local(
            graph.customer_supplier_pairs(spark, sf_dir),
            graph.pair_feed(min_weight=2),
            rounds=5,
        )
    edges = graph.customer_supplier_edges(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    return graph.connected_components(edges, rounds=5)
