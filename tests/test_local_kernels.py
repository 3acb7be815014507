"""Size-gated single-task kernels: local path == distributed path.

Small inputs run whole executions of louvain, connected_components and
pagerank (behind an edge or pair feed), kcenter_greedy and the other
gated rows as single-task kernels (``operators.single_task``: one
mapInArrow task): one Spark job instead of a per-round job chain
(guide §1.2). Every kernel sits behind ``operators.fits``. These tests
force the distributed branch (a gate's ceiling set to -1, so no input
fits) and pin it bit-equal to the default local branch on the same
input — the gate picks a physical strategy, never a different result.
``test_gated_row_branches_agree`` does this for every gated registry row
at sf0.001; the other tests cover synthetic and operator-level inputs.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_DIR
from ut_data_engineering_group_project_2022_spark.operators import (
    dedup,
    graph,
    similarity,
)

sys.path.insert(0, str(REPO / "tools"))
try:
    import bench_distributed as bd
finally:
    sys.path.pop(0)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _cc_map(df):
    return {r.node_id: r.component for r in df.collect()}


def _pr_map(df):
    return {r.node_id: r.pagerank for r in df.collect()}


def test_cc_local_kernel_matches_distributed(spark, monkeypatch):
    pairs = [
        ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
        ("x1", "x2"), ("x2", "x3"), ("x3", "x1"), ("x2", "x1"),
        ("q", "q"),  # self-loop: dropped by normalization on both paths
        ("z9", "z8"), ("z8", "z7"),
    ]
    for rounds in (1, 2, 3, 5):
        local = _cc_map(
            graph.connected_components(_edges(spark, pairs), rounds=rounds)
        )
        monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 0)
        dist = _cc_map(
            graph.connected_components(_edges(spark, pairs), rounds=rounds)
        )
        monkeypatch.undo()
        assert local == dist, f"rounds={rounds}"


def test_cc_local_kernel_matches_distributed_bench_config(spark, monkeypatch):
    # the registered graph_connected_components configuration at sf0.001
    edges = graph.customer_supplier_edges(spark, SF_DIR).filter(
        F.col("weight") >= 2
    )
    local = _cc_map(graph.connected_components(edges, rounds=5))
    monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 0)
    dist = _cc_map(graph.connected_components(edges, rounds=5))
    assert local == dist


def test_pagerank_local_kernel_matches_distributed(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
        ("e", "a"),  # e has no in-edges: contrib-less node
    ]
    und = graph.undirect(_edges(spark, pairs))
    local = _pr_map(graph.pagerank_sized(und, 0, iterations=3, damping=0.85))
    dist = _pr_map(graph.pagerank(und, iterations=3, damping=0.85))
    assert local == dist


def test_pagerank_local_kernel_matches_distributed_bench_config(spark):
    # the registered graph_pagerank configuration at sf0.001
    ed = graph.materialized(graph.customer_supplier_edges(spark, SF_DIR))
    und = graph.undirect(ed)
    n = 2 * ed.count()
    assert n <= graph.LOCAL_MOVE_EDGES  # the bench SFs take the local path
    local = _pr_map(graph.pagerank_sized(und, n, iterations=3, damping=0.85))
    dist = _pr_map(graph.pagerank(und, iterations=3, damping=0.85))
    assert local == dist


def test_louvain_local_kernel_matches_distributed_bench_config(
    spark, monkeypatch
):
    # the registered graph_louvain configuration at sf0.001 (the tiny-
    # graph louvain local/distributed pins live in test_graph.py)
    edges = graph.customer_supplier_edges(spark, SF_DIR)
    local = {
        r.node_id: r.community
        for r in graph.louvain(edges, rounds=4, assume_simple=True).collect()
    }
    monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 0)
    dist = {
        r.node_id: r.community
        for r in graph.louvain(edges, rounds=4, assume_simple=True).collect()
    }
    assert local == dist


def test_pairs_dedup_and_codes_edge_cases(monkeypatch):
    """r20 synthetic edges for the fused feed's numpy groupBy twin:
    multiplicity counts, the lexsort fallback for unpackable key
    spaces (including the int64-wrap boundary), the NULL-key guard,
    and namespaced code order."""
    import numpy as np
    import pyarrow as pa
    import pytest

    lexsort = np.lexsort

    # packed path: counts + ascending (custkey, suppkey) order
    t = pa.table({"o_custkey": [5, 2, 5, 2], "l_suppkey": [7, 1, 7, 9]})
    uc, us, w = graph._pairs_dedup(t)
    assert uc.tolist() == [2, 2, 5] and us.tolist() == [1, 9, 7]
    assert w.tolist() == [1, 1, 2]
    # lexsort fallback: negative and huge keys (unpackable in int64)
    t2 = pa.table(
        {"o_custkey": [-3, 2**40, -3], "l_suppkey": [1, 2**40, 1]}
    )
    uc2, us2, w2 = graph._pairs_dedup(t2)
    assert uc2.tolist() == [-3, 2**40] and us2.tolist() == [1, 2**40]
    assert w2.tolist() == [2, 1]
    # boundary: cmax == (2**63 - 1) // (smax + 1) with a large suppkey
    # would pack past int64 max and wrap negative — must take the
    # lexsort fallback and decode the exact pairs
    smax = 2**31
    cmax = (2**63 - 1) // (smax + 1)
    assert cmax * (smax + 1) + smax > 2**63 - 1
    t3 = pa.table({"o_custkey": [cmax, 1, cmax], "l_suppkey": [smax, 0, smax]})
    sorts = []
    monkeypatch.setattr(
        np, "lexsort", lambda keys: sorts.append(keys) or lexsort(keys)
    )
    uc3, us3, w3 = graph._pairs_dedup(t3)
    assert sorts, "took the packed-key path on an unpackable key space"
    assert uc3.tolist() == [1, cmax] and us3.tolist() == [0, smax]
    assert w3.tolist() == [1, 2]
    # NULL keys refuse loudly (the projection would NULL-collapse them)
    with pytest.raises(ValueError, match="NULL"):
        graph._pairs_dedup(
            pa.table({"o_custkey": [1, None], "l_suppkey": [1, 2]})
        )
    # codes: lexicographic over the namespaced ids ('c10' < 'c2' < 's1')
    s, d, names = graph._pair_codes(
        np.array([2, 10]), np.array([1, 1])
    )
    assert names.tolist() == ["c10", "c2", "s1"]
    assert s.tolist() == [1, 0] and d.tolist() == [2, 2]


def test_cc_pairs_local_thinning_matches_distributed(spark, monkeypatch):
    """r20: the fused CC kernel's multiplicity thinning (min_weight)
    must drop pairs AND their thinning-isolated nodes exactly like the
    distributed filter-then-normalize base."""
    pairs = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20), (1, 30), (1, 30), (3, 10)],
        "o_custkey bigint, l_suppkey bigint",
    )
    fused = sorted(
        map(
            tuple,
            graph.cc_local(
                pairs, graph.pair_feed(min_weight=2), rounds=5
            ).collect(),
        )
    )
    edges = (
        pairs.groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            "weight",
        )
        .filter(F.col("weight") >= 2)
    )
    monkeypatch.setattr(graph, "LOCAL_MOVE_EDGES", 0)
    dist = sorted(
        map(tuple, graph.connected_components(edges, rounds=5).collect())
    )
    assert fused == dist
    # (c2, s20) and (c3, s10) are thinning-isolated: absent on both paths
    assert ("c2", "c2") not in fused and ("s20", "s20") not in fused


def test_kcenter_local_kernel_matches_distributed(spark, monkeypatch):
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.1, 0.0]),
            (1, [1.0, 0.9, 0.0, 0.0]),
            (2, [0.0, 0.1, 0.05, 0.0]),
            (3, [-1.0, -0.9, 0.0, 0.2]),
            (4, [1.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    local = similarity.kcenter_greedy(emb, k=3).collect()
    monkeypatch.setattr(similarity, "LOCAL_KCENTER_ROWS", 0)
    dist = similarity.kcenter_greedy(emb, k=3).collect()
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]


def test_kcenter_local_kernel_matches_distributed_bench_config(
    spark, monkeypatch
):
    # the registered llm_coreset_kcenter configuration at sf0.001
    from ut_data_engineering_group_project_2022_spark.catalog import table

    emb = table(spark, SF_DIR, "embeddings")
    local = similarity.kcenter_greedy(emb, k=8).collect()
    monkeypatch.setattr(similarity, "LOCAL_KCENTER_ROWS", 0)
    dist = similarity.kcenter_greedy(emb, k=8).collect()
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]


def _sd_map(df):
    return {r.vec_id: (r.cluster, r.keep, r.dup_of) for r in df.collect()}


def test_semdedup_local_kernel_matches_distributed(spark, monkeypatch):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),   # near-dup of 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.98, 0.02]),   # near-dup of 2
            (4, [-1.0, 0.0, 0.0]),
            (5, [0.5, 0.5, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    for k, thr in ((2, 0.9), (3, 0.4), (10, 0.99)):
        local = _sd_map(similarity.semdedup(emb, k=k, threshold=thr))
        monkeypatch.setattr(similarity, "LOCAL_SEMDEDUP_ROWS", 0)
        dist = _sd_map(similarity.semdedup(emb, k=k, threshold=thr))
        monkeypatch.undo()
        assert local == dist, f"k={k} thr={thr}"


def test_semdedup_local_kernel_matches_distributed_bench_config(
    spark, monkeypatch
):
    # the registered llm_semdedup configuration at sf0.001
    from ut_data_engineering_group_project_2022_spark.catalog import table

    emb = table(spark, SF_DIR, "embeddings")
    local = _sd_map(similarity.semdedup(emb, k=10, iterations=2, threshold=0.40))
    monkeypatch.setattr(similarity, "LOCAL_SEMDEDUP_ROWS", 0)
    dist = _sd_map(similarity.semdedup(emb, k=10, iterations=2, threshold=0.40))
    assert local == dist


def test_minhash_lsh_local_kernel_matches_distributed(spark, monkeypatch):
    # the registered llm_minhash_lsh configuration at sf0.001, plus a
    # whitespace-edge synthetic (leading tab, trailing newline, dup doc)
    from collections import Counter

    from ut_data_engineering_group_project_2022_spark.catalog import table

    def pairs(df):
        return Counter((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())

    docs = table(spark, SF_DIR, "documents")
    syn = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "\tthe quick brown fox jumps over the lazy dog\n"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "completely different text with no shared shingles at all"),
            (6, "ab"),  # < k tokens: empty shingle set, never paired
        ],
        "doc_id bigint, text string",
    )
    for df in (docs, syn):
        local = pairs(dedup.minhash_lsh_dedup(df))
        monkeypatch.setattr(dedup, "LOCAL_DEDUP_DOCS", 0)
        dist = pairs(dedup.minhash_lsh_dedup(df))
        monkeypatch.undo()
        assert local == dist


def test_incremental_neardup_local_kernel_matches_distributed(
    spark, monkeypatch
):
    # the registered llm_incremental_dedup configuration at sf0.001
    from ut_data_engineering_group_project_2022_spark.catalog import table

    docs = table(spark, SF_DIR, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    def res(df):
        return {
            r.doc_id: (r.is_dup, r.n_matches, r.match_id) for r in df.collect()
        }

    local = res(dedup.incremental_neardup(batch, corpus, min_jaccard=0.8))
    monkeypatch.setattr(dedup, "LOCAL_DEDUP_DOCS", 0)
    dist = res(dedup.incremental_neardup(batch, corpus, min_jaccard=0.8))
    assert local == dist


def test_kcenter_local_kernel_k_exceeding_pool(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = similarity.kcenter_greedy(emb, k=5).collect()
    assert len(got) == 2
    assert sorted(r.vec_id for r in got) == [0, 1]


def _star_tables(state):
    from dataclasses import fields

    from ut_data_engineering_group_project_2022_spark.operators import star

    return {
        f.name: sorted(map(tuple, getattr(state, f.name).collect()))
        for f in fields(star.StarState)
    }


def test_star_local_kernel_matches_distributed(spark, monkeypatch):
    """First-batch star load: the single-task kernel == the distributed
    loader on fixture batch 1 (null year/type/doi sentinels, multi-author
    bridges) and on a carry-conflict batch (gender first-wins = min)."""
    from tests.fixtures import staging_batch_1
    from ut_data_engineering_group_project_2022_spark.operators import star
    from ut_data_engineering_group_project_2022_spark.schemas import (
        STAGING_AUTHORS,
        STAGING_MAIN,
    )

    m1, a1 = staging_batch_1(spark)
    a_conflict = spark.createDataFrame(
        [
            ("Zed", "Q", "X", "male", "Zed Q", "0701.0001"),
            ("Zed", "Q", "Y", "nonbinary", "Zed Q", "0701.0001"),
            ("Zed", "Q", None, "female", "Zed Q", "0701.0002"),
            # id with no matching paper: dim row with NULL h/g, no bridge
            ("Ann", "B", "Z", "female", "Ann B", "0799.9999"),
        ],
        STAGING_AUTHORS,
    )
    # versions edges: NULL -> latest_version_nr NULL; bare digits (no
    # 'v' prefix) parse as-is. (A non-numeric versions string is out of
    # contract: under ANSI sessions the distributed loader's cast throws
    # on it, under non-ANSI it yields NULL — the kernel matches the
    # tolerant non-ANSI behavior.)
    m_edge = spark.createDataFrame(
        [
            (2001, "A", "t", "V", "P", "e1", "d", "T", "12", 1),
            (2002, "B", "t", "V", "P", "e2", "d", "T", None, 0),
        ],
        STAGING_MAIN,
    )
    for m, a in [(m1, a1), (m1, a_conflict), (m_edge, a1)]:
        local = _star_tables(star.load_batch(star.empty_star(spark), m, a))
        monkeypatch.setattr(star, "LOCAL_STAR_ROWS", -1)
        dist = _star_tables(star.load_batch(star.empty_star(spark), m, a))
        monkeypatch.undo()
        assert local == dist


def test_star_local_kernel_matches_distributed_bench_config(
    spark, monkeypatch
):
    """The bench configuration: synthetic_staging at sf0.001 through the
    kernel vs the distributed loader — all nine tables bit-equal."""
    from ut_data_engineering_group_project_2022_spark.operators import star
    from ut_data_engineering_group_project_2022_spark.plans.star_queries import (
        synthetic_staging,
    )

    m, a = synthetic_staging(spark, SF_DIR)
    local = _star_tables(star.load_batch(star.empty_star(spark), m, a))
    monkeypatch.setattr(star, "LOCAL_STAR_ROWS", -1)
    dist = _star_tables(star.load_batch(star.empty_star(spark), m, a))
    assert local == dist


def _fits_spy(monkeypatch):
    """Record, for every ``fits`` call the star loader makes, whether it
    was handed a frame to count (True) or only a no-job proof (False)."""
    from ut_data_engineering_group_project_2022_spark.operators import star

    calls = []
    real = star.fits

    def spy(ceiling, rows=None, df=None):
        calls.append(df is not None)
        return real(ceiling, rows, df)

    monkeypatch.setattr(star, "fits", spy)
    return calls


def test_star_load_footer_bound_proves_small_only(spark, monkeypatch):
    """n_staging_rows is an upper BOUND, summed with the state's recorded
    row count. A sum under the gate takes the kernel straight from the
    staging frames. A sum over the gate must not force the distributed
    path: the batch is staged and the gate reads its observed row count,
    with no count job, and still takes the kernel when the data is small.
    This holds for the bootstrap state (recorded count 0) and for a
    kernel-built state alike; a state with no recorded count ignores the
    bound and runs the bounded count."""
    import copy

    from tests.fixtures import staging_batch_1, staging_batch_2
    from ut_data_engineering_group_project_2022_spark.operators import star

    m, a = staging_batch_1(spark)
    m2, a2 = staging_batch_2(spark)
    first = star.load_batch(star.empty_star(spark), m, a)
    base = _star_tables(first)
    base2 = _star_tables(star.load_batch(first, m2, a2))
    calls = _fits_spy(monkeypatch)
    for bound in (50, star.LOCAL_STAR_ROWS + 1):
        calls.clear()
        got = star.load_batch(star.empty_star(spark), m, a, n_staging_rows=bound)
        assert _star_tables(got) == base, bound
        got2 = star.load_batch(first, m2, a2, n_staging_rows=bound)
        assert star._kernel_output(got2) is not None, bound
        assert _star_tables(got2) == base2, bound
        assert True not in calls, (bound, calls)  # no count job
    unknown = copy.copy(first)
    unknown.dim_year = first.dim_year.select("*")
    calls.clear()
    got = star.load_batch(unknown, m2, a2, n_staging_rows=50)
    assert calls == [True]
    assert _star_tables(got) == base2


def _loaded_total(state):
    """The actual row total of a state's eight non-year tables."""
    from dataclasses import fields

    return sum(
        getattr(state, f.name).count()
        for f in fields(state)
        if f.name != "dim_year"
    )


def test_star_recorded_count_is_a_sound_proof(spark, monkeypatch):
    """The row count a state records is a sound no-job proof for the
    kernel gate. After each chained kernel batch and each distributed
    (LOCAL_STAR_ROWS = -1) batch, a known count equals the actual row
    total of the eight non-year tables. Once a table is replaced, the
    count reads None, and load_batch runs the bounded count instead of
    trusting it, with bit-equal tables."""
    import copy

    from tests.fixtures import staging_batch_chained
    from ut_data_engineering_group_project_2022_spark.operators import star

    calls = _fits_spy(monkeypatch)
    ceiling = star.LOCAL_STAR_ROWS
    kernel = dist = star.empty_star(spark)
    assert star._held(kernel)[0] == 0
    for b in range(3):
        m, a = staging_batch_chained(spark, b)
        swapped = copy.copy(kernel)
        swapped.paper_fact = kernel.paper_fact.select("*")
        assert star._held(swapped) == (None, None)
        calls.clear()
        via_count = star.load_batch(swapped, m, a)
        assert calls[0] is True, calls
        calls.clear()
        kernel = star.load_batch(kernel, m, a)
        assert True not in calls, calls
        assert star._held(kernel)[0] == _loaded_total(kernel)
        assert _star_tables(via_count) == _star_tables(kernel)
        monkeypatch.setattr(star, "LOCAL_STAR_ROWS", -1)
        dist = star.load_batch(dist, m, a)
        monkeypatch.setattr(star, "LOCAL_STAR_ROWS", ceiling)
        known = star._held(dist)[0]
        assert known is None or known == _loaded_total(dist)


def test_star_kernel_batch_job_counts(spark, tmp_path):
    """Deterministic job counts on the kernel path, for JSON batches read
    as the ETL reads them (read_json -> prepare_for_staging). With the
    state's row count recorded, a batch whose staging bound proves the
    gate runs one job (the kernel). Without a bound it runs two: one
    checkpoint that stages the batch and observes its row count, then the
    kernel over the staged rows. The same holds for every chained
    incremental batch: no count job ever runs."""
    from tests.fixtures import enriched_record, write_json_lines
    from ut_data_engineering_group_project_2022_spark.operators import star
    from ut_data_engineering_group_project_2022_spark.operators.transforms import (
        prepare_for_staging,
    )
    from ut_data_engineering_group_project_2022_spark.schemas import ENRICHED_RECORD
    from ut_data_engineering_group_project_2022_spark.sources.connectors import (
        read_json,
    )

    batches = [
        [
            enriched_record(1, "Graph Colouring",
                            [("John", "Smith", "MIT"), ("Anna", "Doe", None)]),
            enriched_record(2, "Quantum Things", [("Anna", "Doe", "ETH")],
                            subject="Physics", cites=10),
        ],
        [
            enriched_record(2, "Quantum Things", [("Anna", "Doe", "ETH")],
                            subject="Physics", cites=10),
            enriched_record(3, "Cells", [("Bob", "Jones", "KCL")], year=2008,
                            subject="Biology"),
        ],
    ]
    staged = []
    for i, records in enumerate(batches):
        write_json_lines(tmp_path / f"batch{i}", "part.json", records)
        staged.append(prepare_for_staging(
            read_json(spark, str(tmp_path / f"batch{i}"), ENRICHED_RECORD)
        ))
    sc = spark.sparkContext

    def jobs(state, batch, **kw):
        group = f"star-job-count-{len(seen)}"
        sc.setJobGroup(group, "load_batch")
        try:
            out = star.load_batch(state, *batch, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert star._kernel_output(out) is not None
        return out

    seen = []
    jobs(star.empty_star(spark), staged[0], n_staging_rows=50)
    state = jobs(star.empty_star(spark), staged[0])
    for batch in (staged[1], staged[1], staged[0]):
        state = jobs(state, batch)
    assert seen == [1, 2, 2, 2, 2]


def test_star_local_kernel_matches_distributed_chained_batches(
    spark, monkeypatch
):
    """Incremental batches take the kernel too: four chained batches
    through the kernel vs the distributed loader (LOCAL_STAR_ROWS = -1)
    — all nine tables bit-equal after every batch, and the kernel branch
    really taken each time. The batches cover a duplicate id within one
    batch, an author whose only papers have zero citations (h 0, g
    NULL), an existing author arriving with another gender (stored one
    kept), a new author whose only paper is a replay (dim row with NULL
    h/g, no bridge), a whole replayed batch (adds no rows), and dense
    surrogate keys continuing past max(existing)."""
    from tests.fixtures import staging_batch_1, staging_batch_2
    from ut_data_engineering_group_project_2022_spark.operators import star
    from ut_data_engineering_group_project_2022_spark.schemas import (
        STAGING_AUTHORS,
        STAGING_MAIN,
    )

    m1, a1 = staging_batch_1(spark)
    m2, a2 = staging_batch_2(spark)
    art = (2009, "Mathematics", "journal-article", "J. Comb.", "Elsevier")
    m1 = m1.unionByName(
        spark.createDataFrame(
            [
                (*art, "0703.0001", None, "Zero", "v1", 0),
                (*art, "0703.0002", None, "Dup", "v1", 4),
                (*art, "0703.0002", None, "Dup", "v1", 4),
            ],
            STAGING_MAIN,
        )
    )
    a1 = a1.unionByName(
        spark.createDataFrame(
            [
                ("Zero", "Z", None, "male", "Zero Z", "0703.0001"),
                ("John", "Smith", "MIT", "male", "John Smith", "0703.0002"),
            ],
            STAGING_AUTHORS,
        )
    )
    # batch 2 also replays 0701.0001, now credited to a new author, and
    # brings John Smith back on a new paper with another gender
    m2 = m2.unionByName(m1.filter(F.col("id") == "0701.0001")).unionByName(
        spark.createDataFrame(
            [(*art, "0704.0001", "10.4/d", "More", "v2", 7)], STAGING_MAIN
        )
    )
    a2 = a2.unionByName(
        spark.createDataFrame(
            [
                ("New", "Replay", "UT", "female", "New Replay", "0701.0001"),
                ("John", "Smith", "ETH", "female", "John Smith", "0704.0001"),
            ],
            STAGING_AUTHORS,
        )
    )
    m4 = spark.createDataFrame(
        [
            (2010, "Chemistry", "preprint", "ChemRxiv", "ACS",
             "0705.0001", None, "Bonds", "v1", 3),
        ],
        STAGING_MAIN,
    )
    a4 = spark.createDataFrame(
        [
            ("Anna", "Doe", "MIT", "female", "Anna Doe", "0705.0001"),
            ("Cy", "Lo", "KCL", "male", "Cy Lo", "0705.0001"),
        ],
        STAGING_AUTHORS,
    )
    kernel = dist = star.empty_star(spark)
    seen = []
    for m, a in [(m1, a1), (m2, a2), (m2, a2), (m4, a4)]:
        kernel = star.load_batch(kernel, m, a)
        assert star._kernel_output(kernel) is not None
        monkeypatch.setattr(star, "LOCAL_STAR_ROWS", -1)
        dist = star.load_batch(dist, m, a)
        monkeypatch.undo()
        got = _star_tables(kernel)
        assert got == _star_tables(dist)
        for dim, key in (("dim_author", 0), ("dim_venue", 0),
                         ("dim_domain", 0), ("dim_affiliation", 0)):
            keys = sorted(r[key] for r in got[dim])
            assert keys == list(range(1, len(keys) + 1)), dim
        seen.append(got)
    assert seen[2] == seen[1]  # the replayed batch added nothing
    authors = {r[1]: r for r in seen[-1]["dim_author"]}
    assert authors["John Smith"][2] == "male"
    assert authors["Zero Z"][3:] == (0, None)
    replay_key = authors["New Replay"][0]
    assert authors["New Replay"][3:] == (None, None)
    assert all(r[1] != replay_key for r in seen[-1]["bridge_author_group"])
    assert authors["Cy Lo"][0] == len(authors)  # continued past the max
    dup = [r for r in seen[-1]["paper_fact"] if r[6] == "0703.0002"]
    assert len(dup) == 2 and dup[0][4] != dup[1][4]


def test_knn_local_kernels_match_distributed_bench_config(spark, monkeypatch):
    """knn_bruteforce / knn_pq / knn_pq_rerank: the single-task kernels
    == the distributed plans on the registered bench configurations at
    sf0.001 — scores (left-fold cosine, HALF_UP round), exact int64 ADC
    distances, and (dist/score, neighbor_id) tie order all bit-equal."""
    from ut_data_engineering_group_project_2022_spark.catalog import table

    emb = table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    local = [
        rows(similarity.knn_bruteforce(q, c, k=5)),
        rows(similarity.knn_pq(emb, k=5, m=16)),
        rows(similarity.knn_pq_rerank(emb, k=5, shortlist=100, m=16)),
    ]
    monkeypatch.setattr(similarity, "LOCAL_KNN_ROWS", -1)
    monkeypatch.setattr(similarity, "LOCAL_KNN_QUERIES", -1)
    dist = [
        rows(similarity.knn_bruteforce(q, c, k=5)),
        rows(similarity.knn_pq(emb, k=5, m=16)),
        rows(similarity.knn_pq_rerank(emb, k=5, shortlist=100, m=16)),
    ]
    assert local == dist


def test_knn_local_kernels_keep_an_int_id_type(spark, monkeypatch):
    """An ``int`` id column: the knn kernels declare the caller's id
    type for ``query_id``/``neighbor_id`` and emit it, so both branches
    of knn_bruteforce, knn_pq and knn_pq_rerank return the same rows
    under the same schema."""
    from ut_data_engineering_group_project_2022_spark.catalog import table

    emb = table(spark, SF_DIR, "embeddings").withColumn(
        "vec_id", F.col("vec_id").cast("int")
    )
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)

    def run():
        dfs = [
            similarity.knn_bruteforce(q, c, k=5),
            similarity.knn_pq(emb, k=5, m=16),
            similarity.knn_pq_rerank(emb, k=5, shortlist=100, m=16),
        ]
        return [
            (
                [(f.name, f.dataType) for f in df.schema],
                sorted(map(tuple, df.collect())),
            )
            for df in dfs
        ]

    local = run()
    monkeypatch.setattr(similarity, "LOCAL_KNN_ROWS", -1)
    dist = run()
    assert local == dist
    assert all(s[0][1].simpleString() == "int" for s, _ in local)
    assert all(rows for _, rows in local)


def test_global_dense_rank_gate_matches_two_phase_bench_config(
    spark, monkeypatch
):
    """The size-gated single-window rank == the two-phase form on a
    registered bench configuration (bi_rank_customers_by_order_count at
    sf0.001). The grouped-rank kernel is forced off on both sides so
    the row reaches ``global_dense_rank``; only the rank gate toggles."""
    from ut_data_engineering_group_project_2022_spark.operators import (
        relational,
        star,
    )
    from ut_data_engineering_group_project_2022_spark.plans import (
        bi_queries as bq,
    )

    monkeypatch.setattr(relational, "LOCAL_TPCH_ROWS", -1)
    ranked = []

    def rank_spy(*args, **kwargs):
        ranked.append(True)
        return real_rank(*args, **kwargs)

    real_rank = bq.global_dense_rank
    monkeypatch.setattr(bq, "global_dense_rank", rank_spy)
    gates = []

    def fits_spy(*args, **kwargs):
        gates.append(real_fits(*args, **kwargs))
        return gates[-1]

    real_fits = star.fits
    monkeypatch.setattr(star, "fits", fits_spy)

    build = bq.bi_rank_customers_by_order_count
    single = sorted(map(tuple, build(spark, SF_DIR).collect()))
    assert ranked == [True] and gates == [True]  # single-window branch
    monkeypatch.setattr(star, "LOCAL_RANK_ROWS", -1)
    two_phase = sorted(map(tuple, build(spark, SF_DIR).collect()))
    assert ranked == [True, True] and gates == [True, False]
    assert single == two_phase


def test_curation_local_kernel_matches_distributed(spark, monkeypatch):
    """llm_curation_pipeline's single-task kernel == the distributed
    composition on the registered sf0.001 config and on a synthetic
    covering every verdict branch (exact_dup, near_dup, low_quality,
    non_english, kept, NULL text -> NULL keep/quality)."""
    from ut_data_engineering_group_project_2022_spark.plans import get_query

    build = get_query("llm_curation_pipeline").spark

    def rows(df):
        return sorted(map(tuple, df.collect()))

    local = rows(build(spark, SF_DIR))
    syn = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and then the cat sat for a while"),
            (2, "the cat sat on the mat and then the cat sat for a while"),
            (3, "the cat sat on the mat and then the cat sat for a time"),
            (4, "1234 5678 !!!! ???? 0000 9999 8888 7777 6666 5555 4444"),
            (5, "a b a b a b a b a b a b a b a b a b a b a c a d a e a f"),
            (6, "tiny"),
            (7, None),
        ],
        "doc_id bigint, text string",
    )
    syn_local = rows(dedup.curation_local(syn))
    monkeypatch.setattr(dedup, "LOCAL_DEDUP_DOCS", -1)
    dist = rows(build(spark, SF_DIR))
    assert local == dist
    # the synthetic's distributed twin needs the full composition; the
    # branch coverage assertion below pins the kernel's verdict labels
    verdicts = {r[0]: r[1] for r in syn_local}
    assert verdicts[2] == "exact_dup" and verdicts[3] == "near_dup"
    assert verdicts[4] == "low_quality" and verdicts[5] == "non_english"
    assert verdicts[1] == "kept" and verdicts[7] == "kept"
    assert syn_local[6][2] is None and syn_local[6][3] is None


def _q1_rows(df):
    import math

    def tok(v):
        if isinstance(v, float):
            return ("f", math.copysign(1.0, v), repr(v))
        return v

    return sorted(tuple(tok(v) for v in r) for r in df.collect())


def test_tpch_q1_local_kernel_decimal_fallback_path(spark, monkeypatch, tmp_path):
    # values that are NOT 4-decimal money force _dec_scaled's per-element
    # Decimal path; parity must hold against the distributed aggregate
    from ut_data_engineering_group_project_2022_spark.operators import (
        relational,
    )
    from ut_data_engineering_group_project_2022_spark.plans.tpch_queries import (
        tpch_q1_pricing_summary as build,
    )

    rows = [
        (1, 1, 1, 1, 17.0, 36485.92, 0.05, 0.03, "N", "O", "1996-01-10"),
        (2, 1, 1, 1, 3.141592653589793, 0.000049999, 0.06999999, 0.00125,
         "N", "O", "1996-02-10"),
        (3, 1, 1, 1, 25.5, 123456789.123456789, 0.1, 0.08, "R", "F",
         "1995-06-01"),
        (4, 1, 1, 1, 50.0, 104949.5, 0.0, 0.0, "A", "F", "1999-01-01"),
        (5, 1, 1, 1, 1.0, 0.015, 0.025, 0.045, "R", "F", "1992-03-04"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, ship string",
    ).withColumn("l_shipdate", F.col("ship").cast("timestamp")).drop("ship")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    local = _q1_rows(build(spark, str(tmp_path)))
    monkeypatch.setattr(relational, "LOCAL_TPCH_ROWS", 0)
    dist = _q1_rows(build(spark, str(tmp_path)))
    assert local == dist
    # rows 1,2 -> (N,O); rows 3,5 -> (R,F); row 4 shipdate-filtered
    assert len(local) == 2


def test_mmr_rerank_local_matches_distributed(spark, monkeypatch):
    """The single-task MMR kernel must be bit-equal to the distributed
    knn + checkpointed-pool greedy — bench config, a pool-exhaustion
    case (k > candidates), and a tie-heavy synthetic."""
    from ut_data_engineering_group_project_2022_spark.catalog import table

    def rows(df):
        return [tuple(r) for r in df.orderBy("sel_order").collect()]

    emb = table(spark, SF_DIR, "embeddings")
    local = rows(similarity.mmr_rerank(emb, query_vec_id=0, k=5, pool=20))
    monkeypatch.setattr(similarity, "LOCAL_KNN_ROWS", 0)
    dist = rows(similarity.mmr_rerank(emb, query_vec_id=0, k=5, pool=20))
    monkeypatch.undo()
    assert local == dist and len(local) == 5

    tiny = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # identical to query: rel 1.0
            (2, [1.0, 0.0, 0.0]),   # tie with 1 -> id tiebreak
            (3, [0.0, 1.0, 0.0]),   # orthogonal
            (4, [0.5, 0.5, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    # k > pool candidates: both paths stop early with the same selection
    local = rows(similarity.mmr_rerank(tiny, query_vec_id=0, k=9, pool=3))
    monkeypatch.setattr(similarity, "LOCAL_KNN_ROWS", 0)
    dist = rows(similarity.mmr_rerank(tiny, query_vec_id=0, k=9, pool=3))
    monkeypatch.undo()
    assert local == dist and len(local) == 3


def test_distributed_mmr_runs_no_job_per_pick(spark, monkeypatch):
    """Forced distributed, mmr_rerank runs the same number of jobs for
    k=1 and k=5: the knn candidate stage and the eager pool checkpoint,
    then one single task over the pool for all k picks. The committed
    exchange counts cannot see this: the row's result plan holds no
    exchange whether the picks run in a driver loop or in one task."""
    from ut_data_engineering_group_project_2022_spark.catalog import table

    emb = table(spark, SF_DIR, "embeddings")
    monkeypatch.setattr(similarity, "LOCAL_KNN_ROWS", -1)
    sc = spark.sparkContext

    def jobs(k):
        group = f"mmr-job-count-k{k}"
        sc.setJobGroup(group, "mmr_rerank")
        try:
            picked = similarity.mmr_rerank(emb, query_vec_id=0, k=k).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(picked) == k
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(1) == jobs(5)


def test_supplier_revenue_rank_local_matches_distributed(spark):
    """The fused grouped-rank kernel (scaled-integer revenue sum +
    in-kernel dense rank, one mapInArrow job) must reproduce the
    groupBy/rank corner semantics on synthetics. Its registry rows are
    pinned against the distributed branch by
    test_gated_row_branches_agree."""
    from ut_data_engineering_group_project_2022_spark.operators import (
        relational,
    )

    # synthetics through the kernel directly: duplicate suppkey with two
    # names (two groups, same revenue, tied rank), NULL name (one
    # group), all-NULL revenue group (NULLS LAST under F.desc), ties
    feed = spark.createDataFrame(
        [
            (1, "alpha", 100.0, 0.1),
            (1, "alpha", 50.0, 0.0),
            (1, "beta", 100.0, 0.1),
            (1, "beta", 50.0, 0.0),
            (2, None, 140.0, 0.0),
            (3, "gamma", float("nan"), 0.0),
            (4, "delta", 140.0, 0.0),
        ],
        "s_suppkey bigint, s_name string, l_extendedprice double, "
        "l_discount double",
    )
    got = sorted(
        map(
            tuple,
            relational.grouped_measure_rank_local(
                feed,
                "s_suppkey",
                "s_name",
                "disc_revenue",
                ("l_extendedprice", "l_discount"),
                "revenue",
            ).collect(),
        ),
        key=lambda r: (r[0], r[1] or ""),
    )
    # exact revenues: 100*0.9 + 50 = 140.0 for both (1, alpha) and
    # (1, beta); NaN extendedprice -> NULL product -> NULL group sum
    assert got == [
        (1, "alpha", 140.0, 1),
        (1, "beta", 140.0, 1),
        (2, None, 140.0, 1),
        (3, "gamma", None, 2),
        (4, "delta", 140.0, 1),
    ]


def test_tpch_q1_magnitude_gate_falls_back_to_distributed(spark, tmp_path):
    """r20 (r19 ADVICE): decimal(18,4) in-type magnitudes can wrap the
    kernel's int64 scaled-integer multiplies while the distributed
    decimal plan stays exact — the gate must prove the Q1_SAFE_ABS
    bound from footer stats and otherwise take the distributed plan;
    the kernel itself must refuse loudly rather than wrap."""
    import pytest

    from ut_data_engineering_group_project_2022_spark.operators import (
        relational,
    )
    from ut_data_engineering_group_project_2022_spark.plans.tpch_queries import (
        _q1_magnitudes_safe,
        tpch_q1_pricing_summary as build,
    )

    # the real bench data is proven safe (the kernel path is unchanged)
    assert _q1_magnitudes_safe(SF_DIR) is True

    rows = [
        (1, 1, 1, 1, 17.0, 2.0e11, -150.0, 500.0, "N", "O", "1996-01-10"),
        (2, 1, 1, 1, 3.0, 36485.92, 0.05, 0.03, "N", "O", "1996-02-10"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, ship string",
    ).withColumn("l_shipdate", F.col("ship").cast("timestamp")).drop("ship")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    assert _q1_magnitudes_safe(str(tmp_path)) is False
    out = build(spark, str(tmp_path))
    # the magnitude gate routed around the kernel: distributed plan
    assert "MapInArrow" not in out._jdf.queryExecution().executedPlan().toString()
    assert len(_q1_rows(out)) == 1  # (N, O)
    # a caller bypassing the gate gets a loud error, never a wrapped sum
    li = df.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    with pytest.raises(Exception, match="proven-safe"):
        relational.tpch_q1_local(li).collect()


def _rows_hex(df):
    """The row multiset of ``df`` as sorted tokens, floats by their
    IEEE-754 bytes (sorted by repr: a column may mix NULLs and values)."""
    import struct

    def tok(v):
        if isinstance(v, float):
            return struct.pack(">d", v).hex()
        return v

    return sorted((tuple(tok(v) for v in r) for r in df.collect()), key=repr)


def test_text_kernels_whitespace_and_null_edges(spark, monkeypatch, tmp_path):
    # NULL text, empty text, trailing java-\s whitespace, shared spans,
    # a null lang: the parity traps the r19 minhash kernel documented
    from ut_data_engineering_group_project_2022_spark.operators import textml
    from ut_data_engineering_group_project_2022_spark.plans.llm_ops import (
        llm_ccnet_buckets,
        llm_span_dedup_rebuild,
    )

    long_a = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the cat sat on the mat"),
        (3, "et", long_a + " tail one"),
        (4, "et", long_a + " tail two"),
        (5, None, "mixed lang doc\t\n"),
        (6, "en", ""),
        (7, "en", None),
        (8, "en", "  leading and trailing  "),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sfd = str(tmp_path)
    for build in (llm_ccnet_buckets, llm_span_dedup_rebuild):
        monkeypatch.setattr(textml, "LOCAL_TEXT_DOCS", 20_000)
        local = _rows_hex(build(spark, sfd))
        monkeypatch.setattr(textml, "LOCAL_TEXT_DOCS", -1)
        dist = _rows_hex(build(spark, sfd))
        assert local == dist, build.__name__
    # NULL text: absent from ccnet (explode of NULL), present in span
    # output with NULL n_chunks / 0 kept / '' rebuild
    monkeypatch.setattr(textml, "LOCAL_TEXT_DOCS", 20_000)
    ccnet_ids = {r[0] for r in llm_ccnet_buckets(spark, sfd).collect()}
    assert 7 not in ccnet_ids and 6 in ccnet_ids
    span = {r[0]: r for r in llm_span_dedup_rebuild(spark, sfd).collect()}
    assert span[7][1] is None and span[7][2] == 0 and span[7][3] == ""
    # doc 2 duplicates doc 1's only span: fully deduped away
    assert span[2][2] == 0 and span[2][3] == ""


def test_fits_proves_from_rows_or_one_bounded_count(spark):
    from ut_data_engineering_group_project_2022_spark.operators import fits

    class NoJobs:
        def limit(self, n):
            raise AssertionError("a proven bound must not run a count job")

    # a bound at or under the ceiling proves the input small, no job
    assert fits(10, 10, NoJobs()) and fits(10, 0, NoJobs())
    # a bound over the ceiling falls through to one bounded count
    assert fits(10, 11, spark.range(10))
    assert not fits(10, 11, spark.range(11))
    # nothing proven: distributed
    assert not fits(10) and not fits(10, 11)
    # -1 is "off": no input fits, not even an empty one
    assert not fits(-1, df=spark.range(0)) and not fits(-1, 0)


def test_single_task_runner_contract(spark):
    """``operators.single_task``: an empty input skips the body and
    yields zero rows under the declared schema; None is NULL in every
    column type, NaN stays NaN, an int64 numpy column is cast to an
    ``int`` field and a value it cannot hold fails the task; several
    input batches reach the body as one single-chunk table, in order."""
    import numpy as np

    from ut_data_engineering_group_project_2022_spark.operators import single_task

    def never(t):
        raise AssertionError("body ran on an empty input")

    empty = single_task(spark.range(0), never, "a bigint, b string")
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<a:bigint,b:string>"

    def typed(t):
        return (
            [7, None],
            np.array([2**31 - 1, -(2**31)], np.int64),
            [True, None],
            ["x", None],
            [None, 1.5],
            np.array([np.nan, 0.25]),
            [None, None],
        )

    out = single_task(
        spark.range(1),
        typed,
        "a bigint, b int, c boolean, d string, e double, f double, g int",
    ).collect()
    assert [tuple(r)[:5] + tuple(r)[6:] for r in out] == [
        (7, 2**31 - 1, True, "x", None, None),
        (None, -(2**31), None, None, 1.5, None),
    ]
    assert np.isnan(out[0].f) and out[1].f == 0.25

    def wide(t):
        return (np.array([2**31], np.int64),)

    with pytest.raises(Exception, match="not in range"):
        single_task(spark.range(1), wide, "a int").collect()

    def seen(t):
        return t.column("id"), [t.column("id").num_chunks] * t.num_rows

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        rows = single_task(
            spark.range(0, 11, 1, 3), seen, "id bigint, chunks int"
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert [tuple(r) for r in rows] == [(i, 1) for i in range(11)]


def test_single_task_is_the_only_coalesce_1():
    """Source guard: the operator modules hold exactly one
    ``.coalesce(1)`` and every ``mapInArrow`` call, all inside
    ``operators.single_task``; the ``mapInPandas`` calls left are the
    distributed stages of ``stats`` and ``multimodal``."""
    import ast

    from ut_data_engineering_group_project_2022_spark import operators

    found = {"coalesce": [], "mapInArrow": [], "mapInPandas": []}
    for path in sorted((REPO / operators.__name__.replace(".", "/")).glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in found
                ):
                    continue
                if node.func.attr == "coalesce" and not (
                    len(node.args) == 1
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == 1
                ):
                    continue
                found[node.func.attr].append((path.stem, fn.name))
    # nested defs are walked from each enclosing def too: dedupe
    found = {k: sorted(set(v)) for k, v in found.items()}
    assert found["coalesce"] == [("__init__", "single_task")]
    assert found["mapInArrow"] == [("__init__", "single_task")]
    assert {m for m, _ in found["mapInPandas"]} == {"stats", "multimodal"}


def _spy_fits(monkeypatch) -> list:
    """Replace every module attribute ``fits`` that is ``operators.fits``
    with a spy; returns the list of results it records. The operator
    modules are imported first: some builders import theirs lazily."""
    import importlib
    import pkgutil

    from ut_data_engineering_group_project_2022_spark import operators

    for info in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{info.name}")
    real = operators.fits
    results = []

    def spy(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    for name, mod in list(sys.modules.items()):
        if name.startswith(operators.__name__.split(".")[0]) and (
            vars(mod).get("fits") is real
        ):
            monkeypatch.setattr(mod, "fits", spy)
    return results


@pytest.mark.parametrize("name", bd.GATED_ROWS)
def test_gated_row_branches_agree(spark, monkeypatch, name):
    """Every gated registry row at sf0.001, built and collected with the
    gates on and again under ``disable_kernels()``: the row multisets
    are bit-exact, the schemas equal and the output non-empty. The spy
    shows the gates-on build took a kernel and the gates-off build
    never did (test_oracle_parity pins the gates-on rows to DuckDB)."""
    from ut_data_engineering_group_project_2022_spark.plans import (
        get_query,
        star_queries,
    )

    build = get_query(name).spark
    # a star row loads its warehouse only on a cold state cache
    monkeypatch.setattr(star_queries, "_STATE_CACHE", {})
    proven = _spy_fits(monkeypatch)
    on_df = build(spark, SF_DIR)
    on = _rows_hex(on_df)
    assert any(proven), "gates on: no kernel gate proved its input small"
    plan = on_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    proven.clear()
    saved = bd.disable_kernels()
    try:
        off_df = build(spark, SF_DIR)
        off = _rows_hex(off_df)
    finally:
        bd.restore_kernels(saved)
    assert proven and not any(proven), "gates off: a kernel gate passed"
    assert on == off
    assert [(f.name, f.dataType) for f in on_df.schema] == [
        (f.name, f.dataType) for f in off_df.schema
    ]
    assert len(on) > 0
