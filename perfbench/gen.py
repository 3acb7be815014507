"""Seeded input generators for the benchmark.

Every table the engine reads is generated with numpy from a seed, in the
schema and value ranges of the engine's sf0.1 test tables (uniform keys,
TPC-H-like money/date ranges, a 30-word document vocabulary with ~5 %
"dup" copies, 64-d unit embeddings). Nothing is downloaded or read from
outside the benchmark's own cache directory.

A dataset is written once per (kind, seed) into ``<cache>/data/<name>``
with a ``DONE`` marker and reused by later runs; generation is never
inside a timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 shape (what the engine's bench scale factor has).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: scale_paths: customer/orders/lineitem at 2x (2 * 1.2 M directed edges is
#: above the graph gate's ceiling) and 25 k documents (above the dedup gate).
SCALE_ROWS = dict(
    BASE_ROWS, customer=30_000, orders=300_000, lineitem=1_200_000, documents=25_000
)

#: etl_incremental: one bootstrap batch + 2 incremental micro-batches of
#: ETL_PAPERS records each.
ETL_BATCHES = 3
ETL_PAPERS = 5_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(offsets):
    return pa.array((_DAY0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n_base, n_total):
    """``n_base`` random texts (~5 % are another doc's text + " dup"),
    then ``n_total - n_base`` token-perturbed copies of random base docs."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for _ in range(n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    for i in np.flatnonzero(rng.random(n_base) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_base))] + " dup"
    for _ in range(n_total - n_base):
        toks = texts[int(rng.integers(0, n_base))].split()
        swap = rng.random(len(toks)) < rng.uniform(0.05, 0.4)
        for j in np.flatnonzero(swap):
            toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
    ids = np.arange(n_total, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_total, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_total)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tpch_tables(seed: int, rows: dict[str, int]) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl = (
        rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem")
    )
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(nc)),
                "c_name": _names("Customer", nc),
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(ns)),
                "s_name": _names("Supplier", ns),
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(npart)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": i32(rng.integers(1, 51, npart)),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(no)),
                "o_custkey": i64(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng.integers(0, _ORDER_DAYS + 1, no)),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, no, nl)),
                "l_partkey": i64(rng.integers(0, npart, nl)),
                "l_suppkey": i64(rng.integers(0, ns, nl)),
                "l_linenumber": i32(rng.integers(1, 8, nl)),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _days(rng.integers(1, _SHIP_DAYS + 2, nl)),
            }
        ),
    }
    ne = rows["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": i64(np.arange(ne)),
            "ts": pa.array(np.sort(ts0 + rng.integers(0, span, ne)), pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 1500, ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, BASE_ROWS["documents"], rows["documents"])
    nv = rows["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(nv)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, nv)),
        }
    )
    return out


# -- etl_incremental: enriched arXiv-shaped JSON batches --------------------

SUBJECTS = [
    "Astrophysics", "physics", "Physics", "Mathematics", "math",
    "Applied math", "Biology", "Chemistry", None,
]
TYPES = ["journal-article", "proceedings-article", "book-chapter", "posted-content", None]
GENDERS = ["male", "female", "unknown"]


def etl_batches(seed: int, n_batches: int, papers: int) -> list[list[dict]]:
    """``n_batches`` lists of ``schemas.ENRICHED_RECORD``-shaped dicts.

    Batch 0 is all new papers; each later batch is ~80 % new papers and
    ~20 % replays of already-loaded ones (same record, so replays must add
    no rows). Each paper has 1-3 authors drawn from a pool that grows by
    ~1 k names per batch; ~0.5 % of new titles exceed 1000 characters and
    are rejected before staging."""
    rng = np.random.default_rng(seed)
    pool = 3_000
    loaded: list[dict] = []
    next_id = 0
    batches = []
    for b in range(n_batches):
        n_replay = 0 if b == 0 else int(papers * 0.2)
        fresh = []
        for _ in range(papers - n_replay):
            pid = next_id
            next_id += 1
            n_auth = int(rng.integers(1, 4))
            authors = []
            for a in rng.choice(pool, n_auth, replace=False):
                a = int(a)
                aff = [] if a % 7 == 0 else [f"Institute {a % 40}"]
                authors.append(
                    {
                        "family": f"F{a}",
                        "given": f"G{a}",
                        "gender": GENDERS[a % 3],
                        "full_name": f"G{a} F{a}",
                        "affiliation": aff,
                    }
                )
            long_title = rng.random() < 0.005
            fresh.append(
                {
                    "id": f"{2000 + pid // 100000:04d}.{pid % 100000:05d}",
                    "title": ("T" * 1001) if long_title else f"Paper {pid}",
                    "doi": None if rng.random() < 0.1 else f"10.{10000 + pid}",
                    "latest_version": f"v{int(rng.integers(1, 6))}",
                    "published-year": None
                    if rng.random() < 0.05
                    else int(rng.integers(1985, 2026)),
                    "published-month": int(rng.integers(1, 13)),
                    "type": TYPES[int(rng.integers(0, len(TYPES)))],
                    "publisher": f"Publisher {int(rng.integers(0, 30))}",
                    "container-title": f"Venue {int(rng.integers(0, 200))}",
                    "subject": SUBJECTS[int(rng.integers(0, len(SUBJECTS)))],
                    "is-referenced-by-count": None
                    if rng.random() < 0.04
                    else int(rng.zipf(1.6) - 1) % 500,
                    "reference": [],
                    "authors_merged": authors,
                }
            )
        replay = (
            [loaded[int(i)] for i in rng.choice(len(loaded), n_replay, replace=False)]
            if n_replay
            else []
        )
        loaded.extend(fresh)
        pool += 1_000
        batches.append(fresh + replay)
    return batches


# -- on-disk cache -----------------------------------------------------------


def _write_tables(tables: dict[str, pa.Table], out: str) -> dict:
    stats = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return stats


def ensure_dataset(cache: str, kind: str, seed: int) -> tuple[str, dict]:
    """Generate (once) and return ``(directory, {table: {rows, bytes}})``.

    ``kind`` is ``base`` (sf0.1 shape), ``scale`` (``SCALE_ROWS``) or
    ``etl`` (JSON batch files). Datasets of other seeds of the same kind
    are removed first so the cache holds one per kind."""
    name = f"{kind}-{seed}"
    root = os.path.join(cache, "data")
    out = os.path.join(root, name)
    marker = os.path.join(out, "DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(f"{kind}-"):
                shutil.rmtree(os.path.join(root, old))
    os.makedirs(out)
    if kind == "etl":
        stats = {}
        for b, recs in enumerate(etl_batches(seed, ETL_BATCHES, ETL_PAPERS)):
            d = os.path.join(out, f"batch{b}")
            os.makedirs(d)
            path = os.path.join(d, "part-0.json")
            with open(path, "w") as f:
                for r in recs:
                    f.write(json.dumps(r) + "\n")
            stats[f"batch{b}"] = {"rows": len(recs), "bytes": os.path.getsize(path)}
    else:
        rows = SCALE_ROWS if kind == "scale" else BASE_ROWS
        stats = _write_tables(tpch_tables(seed, rows), out)
    with open(marker, "w") as f:
        json.dump(stats, f)
    return out, stats

