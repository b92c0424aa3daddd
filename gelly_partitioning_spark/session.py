"""SparkSession factory for the engine.

Defaults are tuned for the sandbox (single-JVM ``local[N]``) but every
knob is the one you would set on a real multi-executor cluster:

- AQE on (skew-join splitting + partition coalescing are the runtime
  complement to our *explicit* split-merge skew handling, which covers
  the single-key groupBy/join skew AQE cannot fix).
- Arrow enabled for the vectorized pandas-UDF surface (no per-row
  Python UDFs anywhere in the engine).
- ``spark.sql.shuffle.partitions`` sized from the core count; on a
  1000-executor cluster you would set this to ~2-3x total cores and the
  engine's own ``repartition`` calls scale with it.
- Python workers run under the engine's daemon (``PYTHON_DAEMON``,
  ``_daemon.py``). PySpark re-reads the central directory of every zip
  archive on the worker's ``sys.path`` before each task (pyspark.zip once
  per imported subpackage, and the spark-core jar): 130-250 ms of every
  Python task on CPython 3.11 (4 vCPUs), against a few milliseconds for
  the single-task rung's kernel. The daemon's workers re-read an archive
  only when it changed. Every Python task of the session, not only the
  engine's, then needs ``gelly_partitioning_spark`` importable where the
  workers start (the working directory, ``PYTHONPATH`` or installed).
  A session whose settings come from spark-submit (``cli.main``) takes
  the daemon only where that holds (``submitted_daemon_conf``).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the worker daemon every engine session runs (``_daemon.py``)
PYTHON_DAEMON = ("spark.python.daemon.module", "gelly_partitioning_spark._daemon")


def submitted_daemon_conf(conf: SparkConf) -> dict[str, str]:
    """The daemon setting for a session built over spark-submit's ``conf``.

    Empty if spark-submit names a daemon of its own, or ships Python files
    (``--py-files``): the daemon starts before any task, and so before
    PySpark puts those files on a worker's ``sys.path``, so outside YARN
    it could not import the package from them. Those launches keep
    PySpark's daemon; one whose executors import the package at start
    can name the engine's with ``--conf``.
    """
    if conf.contains(PYTHON_DAEMON[0]) or conf.get("spark.submit.pyFiles", ""):
        return {}
    return dict([PYTHON_DAEMON])


def get_spark(
    app_name: str = "gelly-partitioning-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores`` defaults to $SPARK_GRAFT_CPUS, then ``*``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, 2 * int(cores))
        except (TypeError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(*PYTHON_DAEMON)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
