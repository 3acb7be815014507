"""In-code arXiv-shaped fixtures (FIXTURES.md shapes; reference
data/mock_main.csv / mock_authors.csv analogs)."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ut_data_engineering_group_project_2022_spark.schemas import (
    ARXIV_RAW,
    STAGING_AUTHORS,
    STAGING_MAIN,
)


def raw_arxiv(spark: SparkSession) -> DataFrame:
    def rec(i, title, authors, abstract="A result.", versions=None, parsed=None,
            update="2020-01-01", doi=None):
        return {
            "id": f"070{i}.000{i}",
            "submitter": "someone",
            "authors": authors,
            "title": title,
            "comments": "5 pages",
            "journal-ref": None,
            "doi": doi,
            "report-no": None,
            "categories": "math.CO cs.CG",
            "license": None,
            "abstract": abstract,
            "versions": versions or [{"version": "v1", "created": "Mon"},
                                     {"version": "v2", "created": "Tue"}],
            "update_date": update,
            "authors_parsed": parsed or [["Smith", "John", ""],
                                         ["Doe", "Anna", "", "MIT"]],
        }

    rows = [
        rec(1, "Graph  Colouring!", "John Smith\nand Anna Doe"),
        # duplicate of 1 modulo normalise (case/punct) — D1 must drop it
        rec(2, "graph colouring", "John Smith and Anna Doe", update="2021-06-01"),
        # withdrawn — P1 must drop it
        rec(3, "Old Result", "Bob Jones",
            abstract="  This paper has been withdrawn by the author"),
        rec(4, "Primes", "Maria Garcia", parsed=[["Garcia", "Maria", ""]],
            versions=[{"version": "v1", "created": "Wed"}], doi="10.1/x"),
        # overlong title — P5 rejects at staging prep
        rec(5, "T" * 1001, "Kim Lee", parsed=[["Lee", "Kim", ""]]),
    ]
    return spark.createDataFrame(rows, ARXIV_RAW)


def staging_batch_1(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    main = spark.createDataFrame(
        [
            (2007, "Mathematics", "journal-article", "J. Comb.", "Elsevier",
             "0701.0001", "10.1/a", "Graph Colouring", "v2", 6),
            (2007, "Physics", "journal-article", "Phys. Rev.", "APS",
             "0701.0002", "10.1/b", "Quantum Things", "v1", 10),
            (None, "Mathematics", None, None, None,
             "0701.0003", None, "Primes", "v1", None),
        ],
        STAGING_MAIN,
    )
    authors = spark.createDataFrame(
        [
            ("John", "Smith", "MIT", "male", "John Smith", "0701.0001"),
            ("Anna", "Doe", None, "female", "Anna Doe", "0701.0001"),
            ("Anna", "Doe", "ETH", "female", "Anna Doe", "0701.0002"),
            ("Maria", "Garcia", "UT", "female", "Maria Garcia", "0701.0003"),
        ],
        STAGING_AUTHORS,
    )
    return main, authors


def staging_batch_2(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Second micro-batch: one repeat paper (idempotency), one new paper
    by an existing author (metric refresh), one new venue/domain."""
    main = spark.createDataFrame(
        [
            (2007, "Physics", "journal-article", "Phys. Rev.", "APS",
             "0701.0002", "10.1/b", "Quantum Things", "v1", 10),
            (2008, "Biology", "preprint", "bioRxiv", "CSHL",
             "0702.0001", "10.2/c", "Cells", "v3", 2),
        ],
        STAGING_MAIN,
    )
    authors = spark.createDataFrame(
        [
            ("Anna", "Doe", "ETH", "female", "Anna Doe", "0701.0002"),
            ("Anna", "Doe", "ETH", "female", "Anna Doe", "0702.0001"),
            ("Bob", "Jones", "KCL", "male", "Bob Jones", "0702.0001"),
        ],
        STAGING_AUTHORS,
    )
    return main, authors


def staging_batch_chained(
    spark: SparkSession, b: int, papers: int = 12
) -> tuple[DataFrame, DataFrame]:
    """Batch ``b`` of a deterministic micro-batch chain: ``papers`` new
    papers plus a replay of batch ``b - 1``'s first two, each with 1-3
    authors from a name pool that grows by four names a batch (so later
    batches mix existing and new authors, venues and affiliations), and
    NULL year/type/venue/affiliation/citation sentinels sprinkled in."""
    main, authors = [], []
    for bb in ([b - 1] if b else []) + [b]:
        for i in range(2 if bb < b else papers):
            k = bb * papers + i
            pid = f"C{bb:02d}.{i:04d}"
            main.append(
                (
                    None if k % 7 == 0 else 1990 + k % 30,
                    ("Physics", "Mathematics", "Biology")[k % 3],
                    None if k % 5 == 0 else ("journal-article", "preprint")[k % 2],
                    None if k % 11 == 0 else f"Venue {k % (4 + bb)}",
                    f"Publisher {k % 3}",
                    pid,
                    None if k % 4 == 0 else f"10.9/{k}",
                    f"Paper {k}",
                    f"v{k % 4 + 1}",
                    None if k % 9 == 0 else (k * 37) % 23,
                )
            )
            for j in range(k % 3 + 1):
                n = (k * 5 + j * 3) % (6 + 4 * bb)
                authors.append(
                    (
                        f"G{n}",
                        f"F{n}",
                        None if n % 6 == 0 else f"Inst {n % (3 + bb)}",
                        ("male", "female", "unknown")[(n + bb) % 3],
                        f"G{n} F{n}",
                        pid,
                    )
                )
    return (
        spark.createDataFrame(main, STAGING_MAIN),
        spark.createDataFrame(authors, STAGING_AUTHORS),
    )


def enriched_record(i, title, authors, year=2007, subject="Mathematics", cites=3):
    """One ENRICHED_RECORD row as a JSON-ready dict: paper ``i`` with
    ``authors`` as (given, family, affiliation or None) triples."""
    return {
        "id": f"070{i}.000{i}",
        "title": title,
        "doi": f"10.1/{i}",
        "latest_version": "v1",
        "published-year": year,
        "published-month": 1,
        "type": "journal-article",
        "publisher": "Elsevier",
        "container-title": "J. Comb.",
        "subject": subject,
        "is-referenced-by-count": cites,
        "reference": [],
        "authors_merged": [
            {
                "family": fam,
                "given": giv,
                "gender": "unknown",
                "full_name": f"{giv} {fam}",
                "affiliation": [aff] if aff else [],
            }
            for giv, fam, aff in authors
        ],
    }


def write_json_lines(directory, name, records):
    """Write ``records`` as one JSON-lines file ``directory/name``."""
    directory.mkdir(parents=True, exist_ok=True)
    with open(directory / name, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
