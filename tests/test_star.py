"""Star-loader golden + idempotency tests (SURVEY M2 / §5 strategy 2)."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from tests.fixtures import staging_batch_1, staging_batch_2
from ut_data_engineering_group_project_2022_spark.operators import star


def _load_two_batches(spark):
    state = star.empty_star(spark)
    m1, a1 = staging_batch_1(spark)
    state = star.load_batch(state, m1, a1).cache()
    m2, a2 = staging_batch_2(spark)
    return star.load_batch(state, m2, a2).cache()


def test_year_dim_seeded(spark):
    state = star.empty_star(spark)
    assert state.dim_year.count() == 92  # 1940-2030 + sentinel 0
    assert state.dim_year.filter(F.col("year_key") == 0).count() == 1


def test_batch1_golden(spark):
    state = star.empty_star(spark)
    m1, a1 = staging_batch_1(spark)
    state = star.load_batch(state, m1, a1)
    assert state.paper_fact.count() == 3
    doms = {r["scientific_domain"] for r in state.dim_domain.collect()}
    assert doms == {"Mathematics", "Physics"}
    # sentinel imputation: the null-typed paper got 'Unknown' type dim
    types = {r["publication_type"] for r in state.dim_type.collect()}
    assert types == {"journal-article", "Unknown"}
    # year sentinel: null year -> year_key 0
    fact3 = state.paper_fact.filter(F.col("arxiv_ID") == "0701.0003").collect()[0]
    assert fact3["year_key"] == 0
    assert fact3["citation_count"] == 0
    # surrogate keys dense from 1
    keys = sorted(r["domain_key"] for r in state.dim_domain.collect())
    assert keys == [1, 2]
    # bridges: paper 1 has 2 authors
    f1 = state.paper_fact.filter(F.col("arxiv_ID") == "0701.0001").collect()[0]
    n = state.bridge_author_group.filter(
        F.col("author_group_key") == f1["author_group_key"]
    ).count()
    assert n == 2


def test_incremental_and_idempotent(spark):
    state = _load_two_batches(spark)
    assert state.paper_fact.count() == 4  # repeat paper not re-inserted
    authors = {r["full_name"] for r in state.dim_author.collect()}
    assert authors == {"John Smith", "Anna Doe", "Maria Garcia", "Bob Jones"}
    # surrogate keys stay dense 1..n across batches — pins the r8
    # plan-side key continuation (coalesce(max(key), 0) broadcast) on a
    # NON-empty dim: batch 2 must continue after batch 1's max, with no
    # gap and no reuse
    author_keys = sorted(r["author_key"] for r in state.dim_author.collect())
    assert author_keys == list(range(1, len(author_keys) + 1))
    ag_keys = sorted(
        r["author_group_key"] for r in state.paper_fact.collect()
    )
    assert ag_keys == list(range(1, len(ag_keys) + 1))
    # re-running batch 2 changes nothing (T6)
    m2, a2 = staging_batch_2(spark)
    again = star.load_batch(state, m2, a2)
    assert again.paper_fact.count() == 4
    assert again.dim_author.count() == state.dim_author.count()
    assert again.bridge_author_group.count() == state.bridge_author_group.count()


def test_metric_refresh_touched_authors_only(spark):
    state = _load_two_batches(spark)
    rows = {r["full_name"]: r for r in state.dim_author.collect()}
    # Anna Doe: papers with citations 6, 10, 2 -> h=2 (10>=1, 6>=2, 2<3), g=4?
    # cumsum desc: 10,16,18 vs 1,4,9 -> g = 3 (18 >= 9)
    assert rows["Anna Doe"]["h_index"] == 2
    assert rows["Anna Doe"]["g_index"] == 3
    # Bob Jones: one paper with 2 citations -> h=1, g=1 (2>=1, cum2>=1; n=1)
    assert rows["Bob Jones"]["h_index"] == 1
    # John Smith touched only in batch 1: citations [6] -> h=1
    assert rows["John Smith"]["h_index"] == 1


def test_star_join_queryable(spark):
    """The loaded star answers a reference-shaped BI query (J1+A1+W1)."""
    state = _load_two_batches(spark)
    fact = state.paper_fact.alias("f")
    joined = (
        state.dim_author.join(state.bridge_author_group, "author_key")
        .join(fact, "author_group_key")
    )
    counts = {
        r["full_name"]: r["n"]
        for r in joined.groupBy("full_name").agg(F.count("*").alias("n")).collect()
    }
    assert counts["Anna Doe"] == 3  # papers 0701.0001, 0701.0002, 0702.0001


def test_upsert_all_dims_matches_upsert_dim(spark):
    """The r9 one-job tagged upsert is row-identical to five upsert_dim
    calls — on an empty warehouse, on a loaded one (key continuation
    past max(existing)), and with conflicting carry variants (gender
    first-wins = min in sort order)."""
    from tests.fixtures import staging_batch_1 as b1, staging_batch_2 as b2
    from ut_data_engineering_group_project_2022_spark.schemas import STAGING_AUTHORS

    def five_upserts(state, main, authors):
        return {
            "domain": star.upsert_dim(
                state.dim_domain,
                main.select(F.col("subject").alias("scientific_domain")),
                ["scientific_domain"],
                "domain_key",
            ),
            "type": star.upsert_dim(
                state.dim_type,
                main.select(F.col("type").alias("publication_type")),
                ["publication_type"],
                "type_key",
            ),
            "venue": star.upsert_dim(
                state.dim_venue,
                main.select(
                    F.col("container-title").alias("pub_venue"), F.col("publisher")
                ),
                ["pub_venue", "publisher"],
                "venue_key",
            ),
            "author": star.upsert_dim(
                state.dim_author,
                authors.select("full_name", "gender"),
                ["full_name"],
                "author_key",
                carry_cols=("gender",),
                extra_defaults={"h_index": None, "g_index": None},
            ),
            "affiliation": star.upsert_dim(
                state.dim_affiliation,
                authors.select(F.col("affiliation").alias("affiliation_name")),
                ["affiliation_name"],
                "affiliation_key",
            ),
        }

    state = star.empty_star(spark)
    m1, a1 = b1(spark)
    m2, a2 = b2(spark)
    # third input: one full_name with THREE gender variants — pins the
    # carry first-wins fold (min(__carry) == row_number-over-orderBy=1)
    a3 = spark.createDataFrame(
        [
            ("Zed", "Q", "X", "male", "Zed Q", "0703.0001"),
            ("Zed", "Q", "Y", "nonbinary", "Zed Q", "0703.0001"),
            ("Zed", "Q", None, "female", "Zed Q", "0703.0002"),
        ],
        STAGING_AUTHORS,
    )
    cases = [(m1, a1), (m2, a2), (m1, a3)]
    for m, a in cases:
        main = star.impute_sentinels(m)
        authors = star.impute_author_sentinels(a)
        got = star._upsert_all_dims(state, main, authors)
        want = five_upserts(state, main, authors)
        for tag in want:
            g = sorted(map(tuple, got[tag].collect()))
            w = sorted(map(tuple, want[tag].collect()))
            assert g == w, f"{tag} diverged: {g} != {w}"
        state = star.load_batch(state, m, a)


def test_materialize_passthrough_when_already_checkpointed(spark):
    """materialize() on an already-materialized state returns the SAME
    frames (bare-LogicalRDD skip) instead of scheduling nine no-op jobs."""
    from dataclasses import fields

    state = _load_two_batches(spark)
    again = state.materialize()
    for f in fields(star.StarState):
        assert getattr(again, f.name) is getattr(state, f.name), f.name


def test_synthetic_staging_selectexpr_parity(spark):
    """r20: synthetic_staging was rewritten from ~60 py4j Column calls
    to selectExpr strings (cold star_load py4j chatter); the rewrite
    must be bit-identical — schema (names, types) and rows — to the
    original Column-API construction, reproduced here as the
    reference."""
    from ut_data_engineering_group_project_2022_spark.catalog import table
    from ut_data_engineering_group_project_2022_spark.plans.star_queries import (
        GENDERS,
        SUBJECTS,
        TYPES,
        synthetic_staging,
    )

    sf = "/root/testdata/sf0.001"
    doc = table(spark, sf, "documents").select("doc_id")
    di = F.col("doc_id")

    def pick(values, idx):
        return F.element_at(
            F.array(*[F.lit(v) for v in values]), (idx + 1).cast("int")
        )

    ref_main = doc.select(
        F.when(di % 17 == 0, F.lit(None))
        .otherwise(F.lit(1985) + di % 40)
        .cast("int")
        .alias("published-year"),
        pick(SUBJECTS, di % 8).alias("subject"),
        F.when(di % 5 == 0, F.lit(None)).otherwise(pick(TYPES, di % 4)).alias("type"),
        F.when(di % 13 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("Venue "), (di % 20).cast("string")))
        .alias("container-title"),
        F.when(di % 11 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("Publisher "), (di % 7).cast("string")))
        .alias("publisher"),
        F.format_string("P%06d", di).alias("id"),
        F.when(di % 19 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("10."), (F.lit(1000) + di).cast("string")))
        .alias("doi"),
        F.concat(F.lit("Paper "), di.cast("string")).alias("title"),
        F.concat(F.lit("v"), (di % 5 + 1).cast("string")).alias("versions"),
        F.when(di % 23 == 0, F.lit(None))
        .otherwise((di * 37) % 101)
        .cast("int")
        .alias("is-referenced-by-count"),
    )
    exploded = doc.select(
        di.alias("doc_id"),
        F.explode(F.sequence(F.lit(0), (di % 3).cast("int"))).alias("j"),
    )
    aid = (F.col("doc_id") * 7 + F.col("j") * 13) % 60
    ref_authors = exploded.select(
        F.concat(F.lit("G"), aid.cast("string")).alias("given"),
        F.concat(F.lit("F"), aid.cast("string")).alias("family"),
        F.when(aid % 9 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("Institute "), (aid % 12).cast("string")))
        .alias("affiliation"),
        F.element_at(
            F.array(*[F.lit(g) for g in GENDERS]), (aid % 3 + 1).cast("int")
        ).alias("gender"),
        F.concat(
            F.lit("G"), aid.cast("string"), F.lit(" F"), aid.cast("string")
        ).alias("full_name"),
        F.format_string("P%06d", F.col("doc_id")).alias("id"),
    )

    new_main, new_authors = synthetic_staging(spark, sf)
    for ref, new in ((ref_main, new_main), (ref_authors, new_authors)):
        assert [(f.name, f.dataType) for f in new.schema] == [
            (f.name, f.dataType) for f in ref.schema
        ]
        key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
        assert sorted(map(tuple, new.collect()), key=key) == sorted(
            map(tuple, ref.collect()), key=key
        )


def test_distributed_loader_layout_stays_bounded(spark, monkeypatch):
    """Above the kernel gate, chained batches keep a bounded layout: the
    union checkpoints coalesce to at most defaultParallelism partitions,
    so no table ever holds more than that (the summed partitions used to
    grow ~5x per batch), and the four pure dim slices pass through
    materialize() instead of being re-copied every batch."""
    from dataclasses import fields

    from tests.fixtures import staging_batch_chained

    monkeypatch.setattr(star, "LOCAL_STAR_ROWS", -1)
    n = spark.sparkContext.defaultParallelism
    state = star.empty_star(spark)
    for b in range(5):
        state = star.load_batch(state, *staging_batch_chained(spark, b))
        parts = {
            f.name: getattr(state, f.name).rdd.getNumPartitions()
            for f in fields(star.StarState)
        }
        assert max(parts.values()) <= n, (b, parts)
        for name in ("dim_domain", "dim_type", "dim_venue", "dim_affiliation"):
            assert star._is_materialized(getattr(state, name)), (b, name)


def test_kernel_state_size_estimates_keep_broadcast_reads(spark, tmp_path):
    """After five chained kernel batches every table's optimizer size
    estimate stays under the broadcast threshold, so star_q01 plans
    broadcast joins and no SortMergeJoin. Feeding empty_star's emptyRDD
    empties (default ~8 EiB estimate) into the kernel, or loading
    through the distributed loader, breaks this. The staging batches
    are read from files, as the ETL path reads them: a frame built from
    a python list is RDD-backed and carries the same unbounded default
    estimate itself."""
    from dataclasses import fields

    from tests.fixtures import staging_batch_chained
    from ut_data_engineering_group_project_2022_spark.plans.star_queries import (
        _QUERIES,
    )

    state = star.empty_star(spark)
    for b in range(5):
        staged = []
        for i, df in enumerate(staging_batch_chained(spark, b)):
            path = str(tmp_path / f"batch{b}_{i}")
            df.write.parquet(path)
            staged.append(spark.read.parquet(path))
        state = star.load_batch(state, *staged)
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    digits = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)  # a runaway estimate has thousands of digits
    try:
        for f in fields(star.StarState):
            qe = getattr(state, f.name)._jdf.queryExecution()
            size = qe.optimizedPlan().stats().sizeInBytes()
            assert size < limit, f"{f.name}: estimate ~2**{size.bit_length()} B"
    finally:
        sys.set_int_max_str_digits(digits)
    for f in fields(star.StarState):
        getattr(state, f.name).createOrReplaceTempView(f"star_{f.name}")
    q = spark.sql(_QUERIES["star_q01_authors_by_papers_in_domain"][1])
    planned = q._jdf.queryExecution().executedPlan().toString()
    q.collect()
    final = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in planned + final
    assert "BroadcastHashJoin" in final
