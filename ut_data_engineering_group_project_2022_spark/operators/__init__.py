"""Composite operators: dedup (exact/MinHash/SimHash/Jaccard), similarity
search, star-schema loading, graph algorithms, multimodal plumbing."""

from __future__ import annotations


def fits(ceiling: int, rows: int | None = None, df=None) -> bool:
    """The one size gate in front of every single-task kernel: True only
    when the input is proven to hold at most ``ceiling`` rows.

    ``rows`` is a proof that costs no job: an exact parquet footer count
    (catalog.parquet_row_count), an upper bound on it, or a bound known
    by construction. At or under the ceiling it proves the input small.
    Otherwise, when ``df`` is given, one bounded ``limit(ceiling + 1)``
    count decides; with nothing proven the input takes the distributed
    branch. A ceiling of -1 rejects every input, even an empty one."""
    if rows is not None and rows <= ceiling:
        return True
    return df is not None and df.limit(ceiling + 1).count() <= ceiling
