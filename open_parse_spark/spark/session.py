"""SparkSession factory with the configs this pipeline relies on."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "open-parse-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Arrow enabled, small Arrow batches (megabyte payloads must not blow up
    executor memory: FIXTURES payloads are log-normal with a heavy tail), AQE
    on for runtime skew handling on top of our explicit repartitioning.

    When the python daemon can import this package at launch (a local
    master, and the package is loaded from the driver's cwd or from a
    directory on ``PYTHONPATH``, both of which the JVM and its daemon
    inherit), ``spark.python.daemon.module`` is
    set to ``open_parse_spark.spark.daemon``, so workers import pyspark from
    its installed package rather than from Spark's zip and jar archives
    (see that module).  Otherwise, e.g. under ``spark-submit --py-files``,
    which ships the package to workers only per task, pyspark's stock
    daemon stays."""
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = SparkSession.builder
    if _daemon_can_import_package(master):
        builder = builder.config("spark.python.daemon.module", "open_parse_spark.spark.daemon")
    spark = (
        builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # smaller input splits -> scan parallelism even on few large files
        # (payloads are fat rows; 32m keeps per-task memory bounded too)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # NOTE: effective only for python-launched local sessions; under
        # spark-submit the driver JVM heap is fixed at submit time — pass
        # --driver-memory there (review finding)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        # broadcast futures share the driver with python-worker launches; on
        # a contended shared VM (e.g. parallel test shards) the 300 s default
        # has been seen to flake a registry sweep — timing headroom only, no
        # plan change
        .config("spark.sql.broadcastTimeout", "1200")
        .getOrCreate()
    )
    _warm_python_workers(spark)
    return spark


def _daemon_can_import_package(master: str) -> bool:
    """True on a local master (executors in this driver's JVM) when this
    package is loaded from a directory that is the cwd or on
    ``PYTHONPATH``: the places a daemon started by ``python -m`` from that
    JVM looks first."""
    import open_parse_spark

    if not (master == "local" or master.startswith("local[")):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(open_parse_spark.__file__)))
    launch_dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.isdir(root) and any(
        d and os.path.realpath(d) == os.path.realpath(root) for d in launch_dirs
    )


# sessions whose python workers were already warmed (getOrCreate can hand the
# same session back to many get_spark calls)
_WARMED: set = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn + warm one reused python worker per core at session creation.

    On a long-lived cluster, workers (``spark.python.worker.reuse``, the
    default) start once and then serve every Arrow stage of the
    application; a fresh local session instead pays interpreter spawn +
    pandas/numpy import inside the FIRST Arrow stage that runs — which for
    a parallel first query is a whole wave of cold workers charged to that
    query's wall (r6: the first headline query measured ~3 s of pure
    worker-spawn).  Warming at session creation moves that one-time cost
    where it belongs: session startup.

    On a local master a failed warm-up (most often: the workers cannot
    import ``open_parse_spark``) raises ``RuntimeError`` chained to the
    worker's error, and the session is not marked warmed."""
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        return  # cluster executors warm once and stay up anyway
    key = spark.sparkContext.applicationId
    if key in _WARMED:
        return
    cores = spark.sparkContext.defaultParallelism

    def _touch(batches):
        import numpy  # noqa: F401
        import pandas as pd

        from open_parse_spark.core import parse  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    try:
        spark.range(2 * cores, numPartitions=2 * cores).mapInPandas(
            _touch, "n long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        raise RuntimeError(
            "python worker warm-up failed: the workers must import open_parse_spark "
            f"from their PYTHONPATH ({os.environ.get('PYTHONPATH')!r}) or --py-files"
        ) from exc
    _WARMED.add(key)
