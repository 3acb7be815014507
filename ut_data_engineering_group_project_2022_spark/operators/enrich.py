"""Enrichment layer (SURVEY M1/§3.1; ref dags/enrich.py, dags/openalex.py).

The reference enriches per-row over HTTP (OpenAlex, Crossref fallback) —
the engine's anti-pattern list (SURVEY §4.1). Here enrichment is a
**broadcast lookup join against a prefetched enrichment table** keyed on
arxiv id/doi (SURVEY §3.1 'Spark lifecycle replacement'): the engine
ships the join; an external async fetcher fills the table. Tests are
hermetic by construction.

Key operators:
  * J8 positional concat -> keyed left join (enrich_lookup_join);
  * J9 element-wise zip of sorted author lists with pandas-zip
    TRUNCATION semantics (zip_with pads nulls — guarded by slicing both
    arrays to the shorter length first);
  * F15 name-merge scoring: prefer the name with more non-empty parts,
    ties -> byte-longer string (utf8 length);
  * F16 affiliation merge: first affiliation of each side, prefer longer;
  * F14 gender UDF (functions/gender.py);
  * U2 success/failure split + dead-letter channel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich_lookup_join(
    cleaned: DataFrame, enrichment: DataFrame, key: str = "id"
) -> tuple[DataFrame, DataFrame]:
    """Replaces the per-row HTTP loop + positional concat (SURVEY J8;
    ref enrich.py:111-148): broadcast-join the enrichment table, split
    into (enriched, failed) like the reference's boolean-mask complement
    (U2). Rows with no enrichment match are the failure channel."""
    joined = cleaned.join(F.broadcast(enrichment), key, "left")
    matched = joined.filter(F.col("subject").isNotNull())
    failed = joined.filter(F.col("subject").isNull()).select(cleaned.columns)
    return matched, failed


def _name_score(author: Column) -> Column:
    """F15 scoring (ref enrich.py:151-170): count of non-empty name parts,
    byte length as tiebreak."""
    parts = F.array(author["family"], author["given"])
    nonempty = F.size(F.filter(parts, lambda p: p.isNotNull() & (F.length(p) > 0)))
    bytelen = F.length(
        F.encode(
            F.concat_ws(" ", F.coalesce(author["family"], F.lit("")),
                        F.coalesce(author["given"], F.lit(""))),
            "utf-8",
        )
    )
    return nonempty * F.lit(1000) + bytelen


def _merge_pair(api: Column, arx: Column) -> Column:
    """Merge one (api_author, arxiv_author) pair: better-scored name wins;
    affiliation = longer of the two first-affiliations (F16,
    ref enrich.py:172-190); full_name = given + ' ' + family (F9)."""
    pick_api = _name_score(api) >= _name_score(arx)
    family = F.when(pick_api, api["family"]).otherwise(arx["family"])
    given = F.when(pick_api, api["given"]).otherwise(arx["given"])
    aff_api = F.coalesce(F.try_element_at(api["affiliation"], F.lit(1)), F.lit(""))
    aff_arx = F.coalesce(F.try_element_at(arx["affiliation"], F.lit(1)), F.lit(""))
    aff = F.when(F.length(aff_arx) > F.length(aff_api), aff_arx).otherwise(aff_api)
    return F.struct(
        family.alias("family"),
        given.alias("given"),
        F.concat_ws(" ", given, family).alias("full_name"),
        F.when(F.length(aff) > 0, F.array(aff))
        .otherwise(F.array().cast("array<string>"))
        .alias("affiliation"),
    )


def merge_authorlists(
    df: DataFrame,
    api_col: str = "authors_api",
    arxiv_col: str = "authors_extracted",
    out_col: str = "authors_merged",
) -> DataFrame:
    """J9 (ref enrich.py:194-216): zip sorted-by-family author lists and
    merge element pairs.

    pandas `zip` TRUNCATES to the shorter list while Spark `zip_with`
    pads with null — parity requires slicing both arrays to
    min(len, len) first (SURVEY §7.4 order-sensitivity risk).
    """
    api_sorted = F.array_sort(
        F.col(api_col),
        lambda a, b: F.when(a["family"] < b["family"], -1)
        .when(a["family"] > b["family"], 1)
        .otherwise(0),
    )
    arx_sorted = F.array_sort(
        F.col(arxiv_col),
        lambda a, b: F.when(a["family"] < b["family"], -1)
        .when(a["family"] > b["family"], 1)
        .otherwise(0),
    )
    n = F.least(F.size(api_sorted), F.size(arx_sorted))
    merged = F.zip_with(
        F.slice(api_sorted, 1, n),
        F.slice(arx_sorted, 1, n),
        _merge_pair,
    )
    return df.withColumn(out_col, merged)


def collect_reference_dois(df: DataFrame, ref_col: str = "reference") -> DataFrame:
    """F20 (ref enrich.py:74-80): non-null DOIs from the reference list."""
    return df.withColumn(
        "reference_dois",
        F.transform(
            F.filter(F.col(ref_col), lambda r: r["doi"].isNotNull()),
            lambda r: r["doi"],
        ),
    )
