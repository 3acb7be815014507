"""The reference's full BI surface, end to end: deterministic
arXiv-shaped staging -> the real star loader (operators/star.py) -> all
15 BI queries from ref dags/sql/queries.sql:1-129 run **nearly verbatim**
via ``spark.sql`` over temp views of the loaded star schema (SURVEY §3.3:
the engine exposes both the SQL surface and the DataFrame builders).

Every query carries a FULL DuckDB oracle that replays the entire
pipeline in SQL — staging synthesis, sentinel imputation, surrogate-key
assignment, fact/bridge construction, h/g-index windows — so the driver
hash-checks the loader itself, not just the final SELECT.

Staging is synthesized deterministically from `documents.doc_id` with
expressions identical on both engines (papers, authors with 1-3 per
paper, venues, domains matching the reference's '%physics%'/'%Physics%'/
'%math%' LIKE probes, NULL holes that exercise the 'Unknown'/0
sentinels; ref pop_DWH.py:62-65).

Dialect deltas from the Postgres original, applied identically on both
sides and documented here (SURVEY §7.4):
  * `DESC NULLS LAST` made explicit (Postgres defaults to NULLS FIRST
    on DESC; Spark and DuckDB default to NULLS LAST — the reference's
    g/h-index rankings can have NULL metrics);
  * window aliases `count`/`sum` renamed to `n`/`total` (reserved-ish);
  * everything else (DENSE_RANK W1, partitioned analytic aggregates
    W2/A1-A3 with their whole-partition default frame, DISTINCT-after-
    window D4, LIKE P8, BETWEEN P9, ROUND half-up F22) runs unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.catalog import (
    parquet_row_count as catalog_row_count,
    table,
)
from ut_data_engineering_group_project_2022_spark.operators import star
from ut_data_engineering_group_project_2022_spark.plans.registry import register

SUBJECTS = (
    "Astrophysics",
    "physics",
    "Physics",
    "Mathematics",
    "math",
    "Applied math",
    "Biology",
    "Chemistry",
)
TYPES = ("journal-article", "proceedings-article", "book-chapter", "posted-content")
GENDERS = ("male", "female", "unknown")


# --------------------------------------------------------------------------
# deterministic staging synthesis (identical expressions on both engines)
# --------------------------------------------------------------------------


def synthetic_staging(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    # Expressed as selectExpr strings (r20): the Column-API form built
    # ~60 expression objects through py4j one call at a time (~0.3-0.5 s
    # of pure driver chatter on the cold star_load path); each SQL
    # string below is ONE parse call producing the same logical
    # expressions (verified bit-equal at build time by
    # tests/test_star.py::test_synthetic_staging_selectexpr_parity, and
    # end-to-end by the 15 star/bi DuckDB oracles that replay this
    # synthesis as SQL).
    doc = table(spark, sf_dir, "documents").select("doc_id")

    def arr(values: tuple[str, ...]) -> str:
        return "array(" + ", ".join(f"'{v}'" for v in values) + ")"

    main = doc.selectExpr(
        "CAST(CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 1985 + doc_id % 40 "
        "END AS INT) AS `published-year`",
        f"element_at({arr(SUBJECTS)}, CAST(doc_id % 8 + 1 AS INT)) AS subject",
        "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE "
        f"element_at({arr(TYPES)}, CAST(doc_id % 4 + 1 AS INT)) END AS type",
        "CASE WHEN doc_id % 13 = 0 THEN NULL ELSE "
        "concat('Venue ', CAST(doc_id % 20 AS STRING)) END AS `container-title`",
        "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE "
        "concat('Publisher ', CAST(doc_id % 7 AS STRING)) END AS publisher",
        "format_string('P%06d', doc_id) AS id",
        "CASE WHEN doc_id % 19 = 0 THEN NULL ELSE "
        "concat('10.', CAST(1000 + doc_id AS STRING)) END AS doi",
        "concat('Paper ', CAST(doc_id AS STRING)) AS title",
        "concat('v', CAST(doc_id % 5 + 1 AS STRING)) AS versions",
        "CAST(CASE WHEN doc_id % 23 = 0 THEN NULL ELSE (doc_id * 37) % 101 "
        "END AS INT) AS `is-referenced-by-count`",
    )

    authors = doc.selectExpr(
        "doc_id",
        "explode(sequence(0, CAST(doc_id % 3 AS INT))) AS j",
    ).selectExpr(
        "concat('G', CAST((doc_id * 7 + j * 13) % 60 AS STRING)) AS given",
        "concat('F', CAST((doc_id * 7 + j * 13) % 60 AS STRING)) AS family",
        "CASE WHEN (doc_id * 7 + j * 13) % 60 % 9 = 0 THEN NULL ELSE "
        "concat('Institute ', CAST((doc_id * 7 + j * 13) % 60 % 12 AS STRING)) "
        "END AS affiliation",
        f"element_at({arr(GENDERS)}, "
        "CAST((doc_id * 7 + j * 13) % 60 % 3 + 1 AS INT)) AS gender",
        "concat('G', CAST((doc_id * 7 + j * 13) % 60 AS STRING), ' F', "
        "CAST((doc_id * 7 + j * 13) % 60 AS STRING)) AS full_name",
        "format_string('P%06d', doc_id) AS id",
    )
    return main, authors


# One star build per (SparkContext id, sf_dir); the load is the expensive
# part and is identical for every query below.
_STATE_CACHE: dict[tuple[int, str], star.StarState] = {}

_VIEWS = {
    "star_dim_year": "dim_year",
    "star_dim_domain": "dim_domain",
    "star_dim_type": "dim_type",
    "star_dim_venue": "dim_venue",
    "star_dim_author": "dim_author",
    "star_dim_affiliation": "dim_affiliation",
    "star_paper_fact": "paper_fact",
    "star_bridge_author_group": "bridge_author_group",
    "star_bridge_affiliation_group": "bridge_affiliation_group",
}


def _star_views(spark: SparkSession, sf_dir: str) -> None:
    key = (id(spark.sparkContext), sf_dir)
    state = _STATE_CACHE.get(key)
    if state is None:
        main, authors = synthetic_staging(spark, sf_dir)
        # The staging batch is synthesized from `documents` with a
        # fan-out of exactly 1 main row + at most 3 author rows per doc
        # (explode over doc_id % 3 + 1), so 4 x the parquet footer row
        # count BOUNDS the combined staging rows: when it proves the
        # batch small, the load is one kernel job. A missing footer, or
        # one over the gate, makes load_batch stage the batch and gate on
        # its observed row count (prove-small-only, never forces the
        # distributed path).
        n_docs = catalog_row_count(sf_dir, "documents")
        state = star.load_batch(
            star.empty_star(spark),
            main,
            authors,
            n_staging_rows=4 * n_docs if n_docs is not None else None,
        )
        _STATE_CACHE[key] = state
    for view, attr in _VIEWS.items():
        getattr(state, attr).createOrReplaceTempView(view)


# --------------------------------------------------------------------------
# the DuckDB replay of the loader (shared CTE chain for all 15 oracles)
# --------------------------------------------------------------------------

_STAR_SQL = """
WITH doc AS (SELECT doc_id FROM documents),
staging_main AS (
  SELECT
    CASE WHEN doc_id % 17 = 0 THEN NULL ELSE (1985 + doc_id % 40)::INT END AS year_raw,
    CASE (doc_id % 8) WHEN 0 THEN 'Astrophysics' WHEN 1 THEN 'physics'
         WHEN 2 THEN 'Physics' WHEN 3 THEN 'Mathematics' WHEN 4 THEN 'math'
         WHEN 5 THEN 'Applied math' WHEN 6 THEN 'Biology'
         ELSE 'Chemistry' END AS subject_raw,
    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE
      CASE (doc_id % 4) WHEN 0 THEN 'journal-article'
           WHEN 1 THEN 'proceedings-article' WHEN 2 THEN 'book-chapter'
           ELSE 'posted-content' END END AS type_raw,
    CASE WHEN doc_id % 13 = 0 THEN NULL
         ELSE 'Venue ' || (doc_id % 20)::VARCHAR END AS venue_raw,
    CASE WHEN doc_id % 11 = 0 THEN NULL
         ELSE 'Publisher ' || (doc_id % 7)::VARCHAR END AS publisher_raw,
    printf('P%06d', doc_id) AS id,
    CASE WHEN doc_id % 19 = 0 THEN NULL
         ELSE '10.' || (1000 + doc_id)::VARCHAR END AS doi_raw,
    'Paper ' || doc_id::VARCHAR AS title,
    'v' || (doc_id % 5 + 1)::VARCHAR AS versions,
    CASE WHEN doc_id % 23 = 0 THEN NULL
         ELSE ((doc_id * 37) % 101)::INT END AS cites_raw
  FROM doc
),
m AS (  -- sentinel imputation (ref pop_DWH.py:60-65)
  SELECT COALESCE(year_raw, 0) AS pub_year,
         subject_raw AS subject,
         COALESCE(type_raw, 'Unknown') AS type,
         COALESCE(venue_raw, 'Unknown') AS venue,
         COALESCE(publisher_raw, 'Unknown') AS publisher,
         id, COALESCE(doi_raw, 'Unknown') AS doi, title, versions,
         COALESCE(cites_raw, 0) AS cites
  FROM staging_main
),
staging_authors AS (
  SELECT printf('P%06d', doc_id) AS id,
         'G' || aid::VARCHAR || ' F' || aid::VARCHAR AS full_name,
         CASE (aid % 3) WHEN 0 THEN 'male' WHEN 1 THEN 'female'
              ELSE 'unknown' END AS gender,
         CASE WHEN aid % 9 = 0 THEN 'Unknown'
              ELSE 'Institute ' || (aid % 12)::VARCHAR END AS affiliation
  FROM (SELECT doc_id, (doc_id * 7 + unnest(range(doc_id % 3 + 1)) * 13) % 60 AS aid
        FROM doc)
),
star_dim_year AS (
  SELECT y::INT AS year_key, y::INT AS publication_year
  FROM (SELECT unnest(range(1940, 2031)) AS y UNION ALL SELECT 0)
),
star_dim_domain AS (
  SELECT ROW_NUMBER() OVER (ORDER BY scientific_domain)::INT AS domain_key,
         scientific_domain
  FROM (SELECT DISTINCT subject AS scientific_domain FROM m)
),
star_dim_type AS (
  SELECT ROW_NUMBER() OVER (ORDER BY publication_type)::INT AS type_key,
         publication_type
  FROM (SELECT DISTINCT type AS publication_type FROM m)
),
star_dim_venue AS (
  SELECT ROW_NUMBER() OVER (ORDER BY pub_venue, publisher)::INT AS venue_key,
         pub_venue, publisher
  FROM (SELECT DISTINCT venue AS pub_venue, publisher FROM m)
),
star_dim_author_base AS (
  SELECT ROW_NUMBER() OVER (ORDER BY full_name)::INT AS author_key,
         full_name, gender
  FROM (SELECT DISTINCT full_name, gender FROM staging_authors)
),
star_dim_affiliation AS (
  SELECT ROW_NUMBER() OVER (ORDER BY affiliation_name)::INT AS affiliation_key,
         affiliation_name
  FROM (SELECT DISTINCT affiliation AS affiliation_name FROM staging_authors)
),
star_paper_fact AS (
  SELECT y.year_key, d.domain_key, t.type_key, v.venue_key,
         ROW_NUMBER() OVER (ORDER BY m.id)::INT AS author_group_key,
         ROW_NUMBER() OVER (ORDER BY m.id)::INT AS affiliation_group_key,
         m.id AS arxiv_ID, m.doi, m.title,
         replace(m.versions, 'v', '')::INT AS latest_version_nr,
         m.cites AS citation_count
  FROM m
  LEFT JOIN star_dim_year y ON m.pub_year = y.publication_year
  LEFT JOIN star_dim_domain d ON m.subject = d.scientific_domain
  LEFT JOIN star_dim_type t ON m.type = t.publication_type
  LEFT JOIN star_dim_venue v ON m.venue = v.pub_venue AND m.publisher = v.publisher
),
star_bridge_author_group AS (
  SELECT DISTINCT f.author_group_key, da.author_key
  FROM staging_authors a
  JOIN star_paper_fact f ON a.id = f.arxiv_ID
  JOIN star_dim_author_base da ON a.full_name = da.full_name
),
star_bridge_affiliation_group AS (
  SELECT DISTINCT f.affiliation_group_key, dl.affiliation_key
  FROM staging_authors a
  JOIN star_paper_fact f ON a.id = f.arxiv_ID
  JOIN star_dim_affiliation dl ON a.affiliation = dl.affiliation_name
),
cites AS (
  SELECT b.author_key, f.citation_count
  FROM star_bridge_author_group b
  JOIN star_paper_fact f ON b.author_group_key = f.author_group_key
),
h AS (
  SELECT author_key,
         MAX(CASE WHEN citation_count >= rn THEN rn ELSE 0 END)::INT AS hindex
  FROM (SELECT author_key, citation_count,
               ROW_NUMBER() OVER (PARTITION BY author_key
                                  ORDER BY citation_count DESC) AS rn
        FROM cites)
  GROUP BY author_key
),
g AS (
  SELECT author_key,
         MAX(CASE WHEN cum >= rn * rn THEN rn ELSE 0 END)::INT AS gindex
  FROM (SELECT author_key,
               ROW_NUMBER() OVER (PARTITION BY author_key
                                  ORDER BY citation_count DESC) AS rn,
               SUM(citation_count) OVER (PARTITION BY author_key
                                         ORDER BY citation_count DESC
                                         ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT * FROM cites WHERE citation_count > 0))
  GROUP BY author_key
),
star_dim_author AS (
  SELECT da.author_key, da.full_name, da.gender, h.hindex AS h_index,
         g.gindex AS g_index
  FROM star_dim_author_base da
  LEFT JOIN h ON da.author_key = h.author_key
  LEFT JOIN g ON da.author_key = g.author_key
)
"""

# --------------------------------------------------------------------------
# the 15 BI queries (ref dags/sql/queries.sql:1-129), dialect-adjusted
# identically for Spark SQL and DuckDB
# --------------------------------------------------------------------------

_QUERIES: dict[str, tuple[str, str]] = {
    "star_q01_authors_by_papers_in_domain": (
        "ref queries.sql:3-11 — authors in '%physics%' by paper count",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking, x.full_name, x.n
        FROM (
          SELECT a.full_name, COUNT(p.title) OVER(PARTITION BY a.full_name) AS n
          FROM star_dim_author a
          JOIN star_bridge_author_group aug ON a.author_key=aug.author_key
          JOIN star_paper_fact p ON aug.author_group_key=p.author_group_key
          JOIN star_dim_domain d ON p.domain_key=d.domain_key
          WHERE scientific_domain LIKE '%physics%') x
        """,
    ),
    "star_q02_authors_by_citations_in_domain": (
        "ref queries.sql:13-21 — authors in '%physics%' by total citations",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.total DESC) AS ranking, x.full_name, x.total
        FROM (
          SELECT DISTINCT a.full_name,
                 (SUM(p.citation_count) OVER(PARTITION BY a.author_key))::BIGINT AS total
          FROM star_dim_author a
          JOIN star_bridge_author_group aug ON a.author_key=aug.author_key
          JOIN star_paper_fact p ON aug.author_group_key=p.author_group_key
          JOIN star_dim_domain d ON p.domain_key=d.domain_key
          WHERE scientific_domain LIKE '%physics%') x
        """,
    ),
    "star_q03_authors_by_hindex": (
        "ref queries.sql:23-31 — authors in '%Physics%' by h-index "
        "(case-sensitive LIKE variant preserved)",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.h_index DESC NULLS LAST) AS ranking,
               x.h_index, x.full_name, x.scientific_domain
        FROM (
          SELECT DISTINCT a.full_name, a.h_index, d.scientific_domain
          FROM star_dim_author a
          JOIN star_bridge_author_group aug ON a.author_key=aug.author_key
          JOIN star_paper_fact p ON aug.author_group_key=p.author_group_key
          JOIN star_dim_domain d ON p.domain_key=d.domain_key
          WHERE scientific_domain LIKE '%Physics%') x
        """,
    ),
    "star_q04_authors_by_gindex": (
        "ref queries.sql:33-41 — authors in '%Physics%' by g-index",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.g_index DESC NULLS LAST) AS ranking,
               x.g_index, x.full_name, x.scientific_domain
        FROM (
          SELECT DISTINCT a.full_name, a.g_index, d.scientific_domain
          FROM star_dim_author a
          JOIN star_bridge_author_group aug ON a.author_key=aug.author_key
          JOIN star_paper_fact p ON aug.author_group_key=p.author_group_key
          JOIN star_dim_domain d ON p.domain_key=d.domain_key
          WHERE scientific_domain LIKE '%Physics%') x
        """,
    ),
    "star_q05_papers_by_citations": (
        "ref queries.sql:43-45 — papers ranked by citation count",
        """
        SELECT DENSE_RANK() OVER(ORDER BY citation_count DESC) AS ranking,
               citation_count, title
        FROM star_paper_fact
        """,
    ),
    "star_q06_affiliations_by_papers": (
        "ref queries.sql:47-54 — affiliations by paper count, 'Unknown' "
        "excluded (P10 sentinel filter)",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking, x.affiliation_name, x.n
        FROM (
          SELECT DISTINCT af.affiliation_name,
                 COUNT(p.title) OVER(PARTITION BY af.affiliation_key) AS n
          FROM star_dim_affiliation af
          JOIN star_bridge_affiliation_group afg
            ON af.affiliation_key=afg.affiliation_key
          JOIN star_paper_fact p
            ON afg.affiliation_group_key=p.affiliation_group_key) x
        WHERE x.affiliation_name != 'Unknown'
        """,
    ),
    "star_q07_affiliations_by_papers_this_century": (
        "ref queries.sql:56-65 — affiliations by papers 2000-2022 (P9 BETWEEN)",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking, x.affiliation_name, x.n
        FROM (
          SELECT DISTINCT af.affiliation_name,
                 COUNT(p.title) OVER(PARTITION BY af.affiliation_key) AS n
          FROM star_dim_affiliation af
          JOIN star_bridge_affiliation_group afg
            ON af.affiliation_key=afg.affiliation_key
          JOIN star_paper_fact p
            ON afg.affiliation_group_key=p.affiliation_group_key
          JOIN star_dim_year y ON p.year_key=y.year_key
          WHERE y.publication_year BETWEEN 2000 AND 2022
            AND af.affiliation_name != 'Unknown') x
        """,
    ),
    "star_q08_affiliations_by_citations": (
        "ref queries.sql:67-74 — affiliations by total citations",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.total DESC) AS ranking,
               x.total, x.affiliation_name
        FROM (
          SELECT DISTINCT af.affiliation_name,
                 (SUM(p.citation_count) OVER(PARTITION BY af.affiliation_key))::BIGINT AS total
          FROM star_dim_affiliation af
          JOIN star_bridge_affiliation_group afg
            ON af.affiliation_key=afg.affiliation_key
          JOIN star_paper_fact p
            ON afg.affiliation_group_key=p.affiliation_group_key
          WHERE af.affiliation_name != 'Unknown') x
        """,
    ),
    "star_q09_affiliations_by_avg_citations": (
        "ref queries.sql:76-83 — affiliations by ROUND(AVG(citations)) (A3)",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.average DESC) AS ranking,
               x.affiliation_name, x.average
        FROM (
          SELECT DISTINCT af.affiliation_name,
                 ROUND(AVG(p.citation_count)
                       OVER(PARTITION BY af.affiliation_name)) AS average
          FROM star_dim_affiliation af
          JOIN star_bridge_affiliation_group afg
            ON af.affiliation_key=afg.affiliation_key
          JOIN star_paper_fact p
            ON afg.affiliation_group_key=p.affiliation_group_key
          WHERE af.affiliation_name != 'Unknown') x
        """,
    ),
    "star_q10_venues_by_papers": (
        "ref queries.sql:85-90 — venues by published papers",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking,
               x.n, x.pub_venue, x.publisher
        FROM (
          SELECT DISTINCT v.pub_venue, v.publisher,
                 COUNT(p.title) OVER(PARTITION BY v.pub_venue) AS n
          FROM star_dim_venue v
          JOIN star_paper_fact p ON v.venue_key=p.venue_key) x
        """,
    ),
    "star_q11_venues_by_citations": (
        "ref queries.sql:92-97 — venues by total citations",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.total DESC) AS ranking,
               x.total, x.pub_venue, x.publisher
        FROM (
          SELECT DISTINCT v.pub_venue, v.publisher,
                 (SUM(p.citation_count) OVER(PARTITION BY v.pub_venue))::BIGINT AS total
          FROM star_dim_venue v
          JOIN star_paper_fact p ON v.venue_key=p.venue_key) x
        """,
    ),
    "star_q12_venues_by_avg_citations": (
        "ref queries.sql:99-104 — venues by ROUND(AVG(citations))",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.average DESC) AS ranking,
               x.average, x.pub_venue
        FROM (
          SELECT DISTINCT v.pub_venue,
                 ROUND(AVG(p.citation_count) OVER(PARTITION BY v.pub_venue)) AS average
          FROM star_dim_venue v
          JOIN star_paper_fact p ON v.venue_key=p.venue_key) x
        """,
    ),
    "star_q13_math_venues": (
        "ref queries.sql:106-113 — top venues for '%math%' papers",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking, x.n, x.pub_venue
        FROM (
          SELECT DISTINCT v.pub_venue,
                 COUNT(p.title) OVER(PARTITION BY v.pub_venue) AS n
          FROM star_dim_venue v
          JOIN star_paper_fact p ON v.venue_key=p.venue_key
          JOIN star_dim_domain d ON p.domain_key=d.domain_key
          WHERE d.scientific_domain LIKE '%math%') x
        """,
    ),
    "star_q14_years_by_papers": (
        "ref queries.sql:115-121 — years with most published papers",
        """
        SELECT DENSE_RANK() OVER(ORDER BY x.n DESC) AS ranking,
               x.n, x.publication_year
        FROM (
          SELECT DISTINCT y.publication_year,
                 COUNT(p.title) OVER(PARTITION BY y.publication_year) AS n
          FROM star_dim_year y
          JOIN star_paper_fact p ON y.year_key=p.year_key) x
        """,
    ),
    "star_q15_domain_year_histogram": (
        "ref queries.sql:123-129 — '%math%' papers per year 2010-2022 (O1 sort)",
        """
        SELECT DISTINCT y.publication_year,
               COUNT(p.title) OVER(PARTITION BY y.publication_year) AS count_papers
        FROM star_dim_year y
        JOIN star_paper_fact p ON y.year_key=p.year_key
        JOIN star_dim_domain d ON p.domain_key=d.domain_key
        WHERE d.scientific_domain LIKE '%math%'
          AND y.publication_year BETWEEN 2010 AND 2022
        ORDER BY y.publication_year ASC
        """,
    ),
}


def _make_builder(sql_body: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        _star_views(spark, sf_dir)
        return spark.sql(sql_body)

    return build


for _name, (_doc, _sql) in _QUERIES.items():
    register(
        _name,
        oracle=_STAR_SQL + _sql,
        doc=_doc,
        tags=("star", "bi"),
        bench=(_name == "star_q01_authors_by_papers_in_domain"),
    )(_make_builder(_sql))
