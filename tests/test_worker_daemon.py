"""Where Python workers import pyspark and the kernels from.

``session.get_spark`` sessions fork workers from the warm daemon
(``worker_daemon``); any other session keeps Spark's default daemon and
reaches the kernels through the ``addPyFile`` shipper."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd

from tests.conftest import REPO, SF_DIR, canonical_rows
from ut_data_engineering_group_project_2022_spark.plans import all_queries
from ut_data_engineering_group_project_2022_spark.worker_daemon import promote

PKG_ROOT = REPO / "ut_data_engineering_group_project_2022_spark"


def _in_zip(path: str) -> bool:
    return any(part.endswith(".zip") for part in Path(path).parts)


def test_engine_session_workers_import_from_source_not_zips(spark):
    def probe(batches):
        import pyspark

        from ut_data_engineering_group_project_2022_spark.operators import star

        for _ in batches:
            yield pd.DataFrame({"pyspark": [pyspark.__file__], "star": [star.__file__]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pyspark string, star string"
    ).collect()
    assert not _in_zip(row.pyspark), row.pyspark
    assert not _in_zip(row.star), row.star
    assert Path(row.star).resolve().is_relative_to(PKG_ROOT.resolve()), row.star


def test_promote_moves_only_a_directory_already_on_the_path():
    spark_zips = ["/spark/python/lib/pyspark.zip", "/spark/python/lib/py4j-src.zip"]
    path = ["/cwd", *spark_zips, "/repo", "/usr/lib/python3", "/site-packages"]

    promoted = list(path)
    promote(promoted, "/site-packages")
    assert promoted == ["/cwd", "/site-packages", *spark_zips, "/repo", "/usr/lib/python3"]

    elsewhere = list(path)
    promote(elsewhere, "/other-python/site-packages")
    assert elsewhere == path


def test_vanilla_session_from_another_cwd_runs_a_kernel(tmp_path, duck):
    """The driver contract's session: Spark's default daemon, the package
    only on the driver's ``sys.path``, a working directory outside the
    repo. The q1 kernel's worker can import the package only through the
    shipped zip."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.sql import SparkSession
        from ut_data_engineering_group_project_2022_spark.plans import all_queries

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.session.timeZone", "UTC").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        df = all_queries()["tpch_q1_pricing_summary"].spark(spark, {SF_DIR!r})
        plan = df._jdf.queryExecution().executedPlan().toString()
        out = {{"kernel": "MapInArrow" in plan, "columns": df.columns,
               "rows": [list(r) for r in df.collect()]}}
        spark.stop()
        print(json.dumps(out, default=str))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["kernel"]
    oracle = duck.sql(all_queries()["tpch_q1_pricing_summary"].oracle)
    assert canonical_rows(out["columns"], out["rows"]) == canonical_rows(
        oracle.columns, oracle.fetchall()
    )
