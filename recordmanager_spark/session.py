"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime coalescing + skew-join
handling), shuffle partitions sized to cores locally (set to ~2-3x total
cores on a real cluster), Arrow enabled for the few pandas_udf paths,
UTC session timezone so results compare bit-for-bit with external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "recordmanager_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # 128 MB parquet split keeps task count reasonable at 100 TB scale
        # while still parallelizing small local files.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # ANSI off: engine semantics are permissive (reference coerces, never
        # errors, e.g. invalid dates -> null, MetadataUtils.php:757-880).
        "spark.sql.ansi.enabled": "false",
        # testdata parquet carries TIMESTAMP(NANOS); read as long and convert
        # in the loader (Spark's timestamp is micros).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # sqlalg's SQL-text twin escapes string literals assuming the
        # default parser mode; a deployment that flips the legacy conf
        # would silently change the meaning of every twin-compiled
        # backslash (all the regex patterns). Pin it explicitly so the
        # invariant holds for every session built through this factory
        # (ADVICE r6; see sqlalg module docstring).
        "spark.sql.parser.escapedStringLiterals": "false",
        # local[N] has no data locality, but the scheduler still honors the
        # default 3s locality wait — a single-task job over a coalesced
        # parallelize() RDD (the preview/1-row shape) stalls the full 3s
        # before running. Zero it; on a real cluster tune per topology.
        "spark.locality.wait": "0s",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

