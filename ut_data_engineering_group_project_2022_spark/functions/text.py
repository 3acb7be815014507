"""Text analysis column expressions: normalization, tokenization,
shingling, cross-engine hashing.

All pure `pyspark.sql.functions` compositions (JVM-side, codegen'd) —
no Python UDFs. The md5-based 60-bit hash is the cross-engine hashing
primitive: Spark's and DuckDB's md5 produce identical hex, so
``conv(substr(md5(x),1,15),16,10)`` here equals
``('0x'||substr(md5(x),1,15))::BIGINT`` in the oracle.

The `normalise` expression reproduces the reference's dedup key
(ref dags/transforms.py:5-6: lowercase, keep [a-z0-9] only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps (a*h+b) mod p products within bigint range.
HASH_P = 2_147_483_647


def normalise(col: Column | str) -> Column:
    """Reference dedup normalization: lowercase, strip non-alphanumerics."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")


def md5_int60(col: Column | str) -> Column:
    """Deterministic 60-bit positive hash: first 15 md5 hex digits as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles; empty array for texts shorter than k words."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    build = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        ),
    )
    return F.when(F.size(toks) >= k, F.array_distinct(build)).otherwise(
        F.array().cast("array<string>")
    )


def bigrams(col: Column | str) -> Column:
    """Adjacent word bigrams ("w1 w2") over :func:`tokens`; empty array
    below two tokens. Shared by the bigram LM score and the DSIR
    feature hasher — both DuckDB oracles mirror this exact windowing."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_count(col: Column | str) -> Column:
    """Whitespace word count of trimmed text (SQL twin:
    ``len(regexp_split_to_array(trim(text), '\\s+'))``). Shared by the
    token-count, fertility, and dataset-card diagnostics so the word
    definition cannot drift between them."""
    return F.size(F.split(F.trim(col), r"\s+"))


_BPE_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish token stream (letter runs / digit runs / single symbols)
    over lowercased text (SQL twin: ``regexp_extract_all(lower(text),
    '[a-z]+|[0-9]+|[^a-z0-9\\s]')``)."""
    return F.regexp_extract_all(F.lower(col), F.lit(_BPE_REGEX), 0)
