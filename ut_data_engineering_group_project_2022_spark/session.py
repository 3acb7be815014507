"""SparkSession factory.

Tuned for local[N] testing but with settings that transfer to a real
cluster: AQE on (runtime coalesce + skew-join handling), Arrow enabled
for the pandas-UDF paths, UTC session timezone so results compare
bit-for-bit against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

from ut_data_engineering_group_project_2022_spark import worker_daemon

#: Directory that holds this package (the executor PYTHONPATH entry).
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Directory that holds the driver's pyspark (normally site-packages).
_PYSPARK_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(pyspark.__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "ut-dwh-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Shuffle partitions are sized to the core count rather than the 200
    default: at local scale 200 partitions of a 60 K-row shuffle is pure
    scheduling overhead, while on a production cluster this knob is
    expected to be overridden (or left to AQE coalescing, which is on).

    Python workers fork from a warm daemon (``worker_daemon``), not from
    Spark's default one. Spark starts its daemon with its source-only
    ``pyspark.zip`` first on the path, so each session spends ~1 s
    compiling pyspark before the first Python task, and every forked
    worker imports the Arrow stack and this package again. The warm
    daemon takes pyspark from the driver's byte-compiled installation
    and imports the Arrow stack and every kernel module once per
    session. It is local-only: its settings name the driver's own
    directories, which only ``local[N]`` workers share. Sessions built
    elsewhere keep Spark's default daemon and rely on the ``addPyFile``
    shipper (``catalog.ensure_worker_imports``).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        .config(f"spark.executorEnv.{worker_daemon.PYSPARK_DIR_ENV}", _PYSPARK_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
