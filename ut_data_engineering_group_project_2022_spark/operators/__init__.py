"""Composite operators: dedup (exact/MinHash/SimHash/Jaccard), similarity
search, star-schema loading, graph algorithms, multimodal plumbing.

Every size-gated kernel pairs the two helpers here: :func:`fits` proves
its input small, and :func:`single_task` runs it as one Arrow task."""

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


def single_task(df, body, schema: str):
    """The one runner behind every single-task kernel: ``coalesce(1)``
    funnels ``df`` into ONE ``mapInArrow`` task, which concatenates its
    input batches into one single-chunk ``pa.Table`` ``t`` and returns
    ``body(t)`` as the rows of ``schema`` (a Spark DDL string).

    ``body`` runs only when ``t`` has rows; an empty input, or a body
    that returns None, yields no rows. Otherwise it returns the output
    columns in ``schema`` order, each an Arrow array (chunked or not), a
    numpy array or a list; None becomes NULL and a float NaN stays NaN.
    Each column is converted to its field's Arrow type, which is read
    once here on the driver, with a safe cast: a value the field cannot
    hold raises instead of wrapping."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    out = to_arrow_schema(struct)

    def kernel(batches):
        import pyarrow as pa

        batches = list(batches)
        t = pa.Table.from_batches(batches).combine_chunks() if batches else None
        cols = body(t) if t is not None and t.num_rows else None
        if cols is None:
            return
        arrays = [
            c.cast(f.type)
            if isinstance(c, (pa.Array, pa.ChunkedArray))
            else pa.array(c, f.type)
            for c, f in zip(cols, out)
        ]
        yield from pa.Table.from_arrays(arrays, schema=out).to_batches()

    return df.coalesce(1).mapInArrow(kernel, struct)


def column_list(t, name: str) -> list:
    """Column ``name`` of a kernel's input table as a Python list, read
    through numpy (several times faster than ``to_pylist``). A NULL
    reads as None in a string column but as NaN in a numeric one, so a
    numeric column read this way must hold no NULLs."""
    return t.column(name).to_numpy(zero_copy_only=False).tolist()
