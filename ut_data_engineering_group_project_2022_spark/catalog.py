"""Table catalog for the driver-generated test data (TESTDATA.md).

All queries in ``plans/`` resolve tables through here so the storage
layout (parquet per table) is a single point of change — swapping in a
partitioned / bucketed layout for the 100 TB deployment touches only
this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Session-process schema cache (r19, guide §1.2 "per-task work" at the
#: smallest grain: job count). Every bare ``spark.read.parquet(path)``
#: runs a one-task schema-inference JOB before the query proper — ~165 ms
#: of pure dispatch latency at bench scale, paid once PER TABLE PER QUERY
#: (tpch_q5 touches six tables: ~1 s of its 1.2 s warm time was footer
#: jobs). The FIRST read of a path still infers (one job, honest), then
#: the StructType is reused via ``spark.read.schema(...)`` which runs
#: ZERO jobs. Keyed by (path, mtime_ns, size) so a rewritten file
#: re-infers; the cache holds metadata only (never rows), is process-
#: local, and the schema a reuse supplies is byte-identical to what
#: inference would return — so plans, pushdowns and results are
#: unchanged. At 100 TB the same trick amortizes footer listing across
#: a session's queries, exactly like Spark's own file-index cache
#: (guide §6 "file listing").
_SCHEMA_CACHE: dict = {}


def _stat_key(path: str):
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


#: Process-wide path of the package zip shipped to executors (below).
_PKG_ZIP: str | None = None


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    The single-task kernels are nested functions whose module-level
    helpers cloudpickle serializes BY REFERENCE (module + qualname), so
    the executor worker must be able to import this package. Workers of
    a ``session.get_spark`` session fork from a daemon that has already
    imported it; workers under Spark's default daemon see it only when
    the driver's working directory is the repo (local-mode workers
    inherit the CWD), NOT for a driver that only put the repo on its own
    ``sys.path`` (the driver contract's vanilla session run from
    another directory): every gated kernel would die with
    ModuleNotFoundError. ``addPyFile`` is Spark's standard fix: the zip
    lands on every worker's ``sys.path`` for all subsequently launched
    tasks. One ``.py``-only zip per process (zipimport cannot use
    ``__pycache__``), one addPyFile per SparkContext, a no-op flag check
    afterwards."""
    sc = spark.sparkContext
    if getattr(sc, "_utdwh_pkg_shipped", False):
        return
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        import tempfile
        import zipfile

        pkg_root = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_root)
        fd, zpath = tempfile.mkstemp(prefix="utdwh_pkg_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, dirnames, filenames in os.walk(pkg_root):
                dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                for fn in sorted(filenames):
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        arc = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_root)
                        )
                        zf.write(full, arc)
        _PKG_ZIP = zpath
    sc.addPyFile(_PKG_ZIP)
    sc._utdwh_pkg_shipped = True


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = _stat_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def parquet_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a catalog table from parquet FOOTER metadata —
    driver-side, zero Spark jobs (r19). The size-dispatch gates
    (operators/{graph,dedup,similarity,relational}.py) previously paid a
    ``limit(N+1).count()`` job that, on a one-row-group bench file, scans
    the whole table a second time (~0.35 s for lineitem). The footer
    already stores num_rows per row group; Spark's own cost-based
    statistics read the same metadata. Returns None when the layout is
    unexpected — nothing is then proven and ``operators.fits`` sends the
    caller to its distributed branch — and is stat-keyed like the schema
    cache so rewrites re-read."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = ("rows",) + _stat_key(path)
        n = _SCHEMA_CACHE.get(key)
        if n is None:
            import pyarrow.parquet as pq

            if os.path.isdir(path):
                # r20 (r19 ADVICE): a hive-partitioned/nested directory
                # (any subdirectory entry) or a directory with no
                # top-level *.parquet file used to return 0 — which
                # falsely "proves" an arbitrarily large dataset small
                # and routes it through a single-task kernel. Honor the
                # "unexpected layout -> None" contract instead: nothing
                # is proven small.
                n = 0
                found = False
                for f in sorted(os.listdir(path)):
                    full = os.path.join(path, f)
                    if os.path.isdir(full):
                        return None
                    if f.endswith(".parquet"):
                        found = True
                        n += pq.ParquetFile(full).metadata.num_rows
                if not found:
                    return None
            else:
                n = pq.ParquetFile(path).metadata.num_rows
            _SCHEMA_CACHE[key] = n
        return n
    except Exception:  # noqa: BLE001 — unreadable footer: nothing proven
        return None


def parquet_column_minmax(
    sf_dir: str, name: str, column: str
) -> tuple[float, float] | None:
    """(min, max) of a column over every row group, from parquet FOOTER
    statistics — driver-side, zero Spark jobs (r20, r19 ADVICE). The
    tpch_q1 kernel's scaled-integer multiplies are proven exact only up
    to a magnitude bound (int64 headroom); the gate uses these stats to
    prove the bound holds and otherwise takes the exact distributed
    decimal aggregate. Returns None when any row group lacks stats for
    the column or the layout is unexpected — callers must treat None as
    "not proven safe". Stat-keyed like the schema cache."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"

    def _file_minmax(fpath: str):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fpath).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return (lo, hi) if lo is not None else None

    try:
        key = ("minmax", column) + _stat_key(path)
        mm = _SCHEMA_CACHE.get(key)
        if mm is None:
            if os.path.isdir(path):
                lo = hi = None
                found = False
                for f in sorted(os.listdir(path)):
                    full = os.path.join(path, f)
                    if os.path.isdir(full):
                        return None
                    if not f.endswith(".parquet"):
                        continue
                    found = True
                    sub = _file_minmax(full)
                    if sub is None:
                        return None
                    lo = sub[0] if lo is None else min(lo, sub[0])
                    hi = sub[1] if hi is None else max(hi, sub[1])
                if not found:
                    return None
                mm = (lo, hi)
            else:
                mm = _file_minmax(path)
                if mm is None:
                    return None
            _SCHEMA_CACHE[key] = mm
        return mm
    except Exception:  # noqa: BLE001 — callers treat None as unproven
        return None


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_worker_imports(spark)
    if name == "events":
        return _events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts across testdata generations.

    Older generations wrote parquet TIMESTAMP(NANOS), which vanilla Spark
    rejects (PARQUET_TYPE_ILLEGAL) — read nanos as long and rebuild a
    microsecond timestamp (floor-truncation, matching DuckDB's ns -> us
    coercion). Newer generations write TIMESTAMP_MICROS with
    isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ — cast to
    session-timezone TIMESTAMP (session tz is pinned UTC, so the instant
    is unchanged and matches DuckDB's UTC-naive reading)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # Integer DIV, not `/`: float division of ~1.7e18 ns exceeds
        # double's 2^53 mantissa and lands some timestamps 1 us off
        # DuckDB's exact ns -> us truncation.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))
