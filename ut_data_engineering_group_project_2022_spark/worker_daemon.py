"""Spark's Python worker daemon, started warm.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark runs it once per session in place of ``pyspark.daemon``. Spark
puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the daemon's
``PYTHONPATH``; that zip carries no byte code, so pyspark would be
compiled from source in every session, and every forked worker would
import the Arrow stack and this package's kernels again. Here the daemon
resolves pyspark from the driver's own (byte-compiled) installation,
imports numpy, pandas, pyarrow and every kernel module once, and then
hands over to ``pyspark.daemon.manager()``: workers fork with all of
them already loaded.
"""

import gc
import os
import sys

#: Executor environment variable through which ``get_spark`` passes the
#: directory that holds the driver's pyspark.
PYSPARK_DIR_ENV = "UTDWH_PYSPARK_DIR"


def promote(path: list[str], directory: str) -> None:
    """Move ``directory`` ahead of Spark's ``pyspark.zip`` on ``path``.

    Only a directory already on ``path`` (this interpreter's own
    site-packages) is moved; a worker interpreter other than the
    driver's does not have it and keeps ``path`` unchanged."""
    zips = [i for i, p in enumerate(path) if os.path.basename(p) == "pyspark.zip"]
    if directory not in path or not zips or path.index(directory) < zips[0]:
        return
    path.remove(directory)
    path.insert(zips[0], directory)


if __name__ == "__main__":
    if PYSPARK_DIR_ENV in os.environ:
        promote(sys.path, os.environ[PYSPARK_DIR_ENV])

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401
    from pyspark.daemon import manager

    import ut_data_engineering_group_project_2022_spark.plans  # noqa: F401

    # pyspark's forked worker runs gc.collect() after every task. Freezing
    # what is loaded so far keeps those collections off the ~75k inherited
    # objects: no traversal of them per task, and no copy-on-write faults
    # on the pages the daemon shares with its workers.
    gc.freeze()
    manager()
