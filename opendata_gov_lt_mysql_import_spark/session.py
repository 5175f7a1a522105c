"""SparkSession factory.

One shared session per process (the reference re-creates an engine and
re-reflects schema per harvested object, ``odgovlt.py:376`` — the Spark
analog is a single reused ``SparkSession`` with cached dimension frames).

Config choices are scale-oriented:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion — the knobs that keep the
  same plan sane from sf0.001 local runs to a 1000-executor 100 TB run.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalesces from a high initial number, so we set the
  initial number from the environment rather than hardcoding 200.
- Arrow enabled for the Pandas-UDF paths (similarity / multimodal ops).
- ``spark.sql.codegen.useIdInClassName=false``: a whole-stage-codegen
  class name otherwise embeds its stage number, and AQE numbers stages in
  the order query stages materialize, which changes from call to call.
  Identical generated code then misses Spark's compiled-class cache,
  which is keyed by the source text. Measured in one session on 4 vCPUs
  with the default names: each warm call of
  ``pq_recall_calibration_trained`` compiled 66-72 classes and each of
  ``ivfadc_recall_calibration`` 77-82; with the larger cache below but
  stage numbers still in the names, warm calls compiled 0-20. With both
  settings, warm calls of both compile 0.
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
  (Spark's default is 100): the two ``recipe_audit`` entries alone need
  about 120 distinct classes, so alternating them thrashed a 100-entry
  cache. The constant records the count it is sized from.

Both codegen settings change no plan and no result; ``extra_conf``
overrides them like any other setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "odgovlt-spark-engine"

# Compiled-class cache size. Measured at sf0.01 on 4 vCPUs, in one session
# with stage-free class names: one pass over bench.py's 150 HEADLINE
# entries compiled 2,131 classes (as many distinct classes as it needs)
# and a second pass 9; with Spark's defaults the passes compiled 5,303
# and 4,814. 4,096 is that count plus about 90% headroom, for the test
# suite's shared session and entries outside the headline set. A cached
# class holds Metaspace, so the cache stays bounded.
CODEGEN_CACHE_ENTRIES = 4096


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    On a cluster, leave ``master`` unset and submit normally; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (snapshot_datasource.py
        # prunes parquet row groups via pyarrow min/max stats)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # dimension tables in this workload are tiny; let Spark broadcast
        # aggressively (J1/J2-style joins should never shuffle the fact side)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write TIMESTAMP_MICROS, not legacy INT96: INT96 carries no
        # parquet min/max statistics, which kills timestamp predicate
        # pushdown and the snapshot manifests' file-skipping stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # repeated calls reuse their compiled code (module docstring)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
