"""The one SparkSession factory: bench.py, every bench/ harness and the
CLI build their session here, so the conf they measure under is one
definition, not a copy per script.

    from parquet_extra_spark.session import build_spark
    spark = build_spark("my_job", cpus=8)

Callers vary only the app name, the parallelism (``cpus``, or an explicit
``master``) and the shuffle-partition count. Everything else is fixed
below, each setting with its reason. The probe scripts cited here were
deleted once their findings were recorded; read them with
``git show 4d080a7:bench/<name>.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TMPFS_LOCAL_DIR = "/dev/shm/spark-graft-tmp"


def build_spark(
    app_name: str,
    cpus: int | None = None,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """-> the session, log level ERROR.

    Master: an explicit ``master`` wins. Otherwise a launcher's master
    wins — under spark-submit the JVM exists before this process, and a
    master set in code would silently override ``--master`` (a
    ``MASTER=yarn`` submit would run locally). Only a plain ``python``
    launch falls back to ``local[cpus]`` (``local[*]`` without cpus).

    ``shuffle_partitions`` defaults to max(cpus, 8).

    getOrCreate semantics: a session that already exists in the process
    is reused, and only the runtime-settable confs below apply to it."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cpus or 8, 8)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch ~= one chunk: fewer per-batch crossings on the
        # JVM<->Python pipe, 3.0-3.3s vs 3.3-3.8s encode at the 10k default
        # (`git show 4d080a7:bench/conf_probe.py`). Shuffle compression
        # must stay ON (Spark's default, so not set here): uncompressed,
        # the 1.8 GB bench corpus through tmpfs saturates DRAM, 2-8x
        # slower.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master is not None:
        builder = builder.master(master)
    # shuffle to tmpfs when present: cluster nodes shuffle to local NVMe,
    # and an overlay disk would put a serial disk in the middle of the
    # measured pipeline. SPARK_LOCAL_DIRS, Spark's standard override,
    # still takes precedence over spark.local.dir.
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        os.makedirs(TMPFS_LOCAL_DIR, exist_ok=True)
        builder = builder.config("spark.local.dir", TMPFS_LOCAL_DIR)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
