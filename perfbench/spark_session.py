"""The benchmark's one Spark session declaration.

Mirrors `bench.make_spark` (shuffle partitions, committer v2, scan split
size, AQE, cached-plan repartitioning, UTC, Arrow batch size, no UI) but
runs `local[nproc]` with a JVM heap that fits a small box, and keeps
every scratch file Spark writes inside the benchmark's work directory.
"""

from __future__ import annotations

import os

DRIVER_MEMORY = "3g"


def settings(cpus: int, work_dir: str, event_log_dir: str | None) -> dict:
    """Effective session settings; printed with the results."""
    local = os.path.join(work_dir, "spark-local")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "pysyslog-perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(max(cpus * 4, 8)),
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def make_spark(conf: dict):
    from pyspark.sql import SparkSession

    os.makedirs(conf["spark.local.dir"], exist_ok=True)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
