"""Correctness checks: order-insensitive result digests compared with the
registry's DuckDB oracles, and the star-warehouse state invariants.

A digest canonicalizes a result the way the repository's oracle tests do
(columns sorted by lower-cased name, rows compared as a multiset,
integral floats equal to the same integer, -0.0 distinct from 0.0), but
vectorized over Arrow and hashed in DuckDB, so multi-million-row results
digest in well under a second.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from ut_data_engineering_group_project_2022_spark.catalog import TABLES


def _canon_column(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_boolean(t):
        col = col.cast(pa.int8())
    elif pa.types.is_floating(t):
        # Arrow prints the shortest round-trip form: 5.0 -> "5" (equal to
        # the integer 5, as the oracle tests treat it), -0.0 -> "-0".
        col = col.cast(pa.float64())
    elif pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp(t.unit)).cast(pa.int64())
        col = pc.binary_join_element_wise("T", col.cast(pa.string()), "")
    elif pa.types.is_date(t):
        col = col.cast(pa.date32()).cast(pa.int32())
        col = pc.binary_join_element_wise("D", col.cast(pa.string()), "")
    elif pa.types.is_large_string(t):
        col = col.cast(pa.string())
    if not pa.types.is_string(col.type):
        col = col.cast(pa.string())
    return pc.fill_null(col, "\x00NULL")


def digest(table: pa.Table) -> dict:
    """``{"rows", "cols", "hash"}`` of ``table`` as an unordered multiset of
    rows over name-sorted columns: the count, sum and xor of DuckDB's
    64-bit row hashes over the canonical cells."""
    names = sorted(table.column_names, key=str.lower)
    canon = pa.table(
        {f"c{i}": _canon_column(table.column(n)) for i, n in enumerate(names)}
    )
    cols = ", ".join(canon.column_names)
    with duckdb.connect() as con:
        con.register("t", canon)
        total, xor = con.sql(
            f"SELECT coalesce(sum(hash({cols}))::HUGEINT, 0)::VARCHAR, "
            f"coalesce(bit_xor(hash({cols})), 0)::VARCHAR FROM t"
        ).fetchone()
    return {
        "rows": table.num_rows,
        "cols": [n.lower() for n in names],
        "hash": f"{total}:{xor}",
    }


def duck_for_dir(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class OracleCache:
    """DuckDB oracle digests for one dataset, computed on first use and
    kept in a JSON file beside the dataset (keyed by op name and a hash of
    the oracle SQL, so an edited oracle is recomputed)."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        # DuckDB's hash() is only stable within one DuckDB version.
        self.path = os.path.join(sf_dir, f"oracle_digests-{duckdb.__version__}.json")
        self._con = None
        self._known = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._known = json.load(f)

    def expected(self, name: str, sql: str) -> dict:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self._known:
            if self._con is None:
                self._con = duck_for_dir(self.sf_dir)
            self._known[key] = digest(self._con.sql(sql).arrow())
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._known, f)
            os.replace(tmp, self.path)
        return self._known[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(got: dict, want: dict) -> str | None:
    """Human-readable difference between two digests, or None."""
    for k in ("cols", "rows", "hash"):
        if got[k] != want[k]:
            return f"{k}: got {got[k]!r}, oracle {want[k]!r}"
    return None


# -- star warehouse state invariants (etl_incremental) ----------------------

DIM_KEYS = {
    "dim_domain": "domain_key",
    "dim_type": "type_key",
    "dim_venue": "venue_key",
    "dim_author": "author_key",
    "dim_affiliation": "affiliation_key",
}


def state_invariants(
    con: duckdb.DuckDBPyConnection, papers: int, bridge_pairs: int
) -> list[str]:
    """Violations of the loader's invariants over star tables registered on
    ``con`` under their ``StarState`` field names:

    - every dim's surrogate keys are dense (max == count == count distinct);
    - fact rows equal the distinct papers accepted so far (so replayed
      papers added none), and so do distinct arxiv_IDs;
    - author-bridge rows equal the distinct (paper, author) pairs loaded."""
    bad = []
    for dim, key in DIM_KEYS.items():
        mx, n, nd = con.sql(
            f"SELECT coalesce(max({key}), 0), count(*), count(DISTINCT {key}) FROM {dim}"
        ).fetchone()
        if not (mx == n == nd):
            bad.append(f"{dim}.{key} not dense: max={mx} count={n} distinct={nd}")
    n, nd = con.sql("SELECT count(*), count(DISTINCT arxiv_ID) FROM paper_fact").fetchone()
    if not (n == nd == papers):
        bad.append(f"paper_fact rows={n} distinct ids={nd}, expected {papers}")
    (nb,) = con.sql("SELECT count(*) FROM bridge_author_group").fetchone()
    if nb != bridge_pairs:
        bad.append(f"bridge_author_group rows={nb}, expected {bridge_pairs}")
    return bad
