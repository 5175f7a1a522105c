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

The harvester runs as a job: one gather, fetch and import pass per run,
so a session is short and its driver builds plans over small data. Two
settings size the driver for that. Per-thread CPU of the driver JVM
(``/proc/<jvm>/task/*/stat``), read around 8 warm calls of the two
``recipe_audit`` entries on ``perfbench``'s seed-11 fixtures in one
session on 4 vCPUs, without these settings: 1.59-3.15 cpu-s per call,
of which the JIT compiler threads took 0.64-2.02 s (40-64%), the py4j
gateway threads 0.24-0.44 s, the executor task threads about 0.5-0.7 s
and the Python driver 0.07-0.08 s.

- ``-XX:CICompilerCount=2`` in ``spark.driver.defaultJavaOptions``
  (``JIT_COMPILER_THREADS``): one C1 and one C2 compiler thread, the
  fewest tiered compilation accepts. JDK 17's default grows with the
  core count (3 on 4 vCPUs: 1 C1 + 2 C2), and under ``local[k]`` the
  compiler threads compete with the task threads and the driver thread
  for the same cores. With one C2 thread HotSpot still compiles the
  hottest methods first and drops queued compiles that went stale. In
  the probe above the compiler threads then took 0.76-1.17 cpu-s per
  call. Spark puts ``defaultJavaOptions`` before
  ``spark.driver.extraJavaOptions`` on the driver's command line, so a
  caller's extra options still apply and a caller's own
  ``-XX:CICompilerCount`` comes later and wins. The option reaches only
  the driver JVM, and only when this call launches it. Rejected:
  ``-XX:TieredStopAtLevel=1`` (C1 only) cut ``op_cpu_s.p50`` by 25% on
  ``recipe_audit`` and 48% on ``catalog_sync`` but raised wall time per
  ``recipe_audit`` op from 1.05 to 1.41 s (worse in 4 of 4 pairs) and
  per ``operator_mix`` op from 0.147 to 0.172 s, trading latency for
  CPU; ``-XX:CompileThresholdScaling=10`` raised ``catalog_sync``
  ``setup_s`` from 11.8 to 14.3 s.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark's
  call-site capture sends extra py4j commands on every Column and
  DataFrame call to record the Python frame that made it.
  ``F.col("a").alias("b")`` sends 24 commands with it and 4 without;
  ``df.select(F.col("id").alias("b"))`` 30 and 10. A traced
  ``recipe_audit`` op went from 2,435.5 to 1,220.5 construction py4j
  calls. On its own it did not move ``op_cpu_s.p50`` beyond noise
  (median 2.65 to 2.63 s, lower in 4 of 6 interleaved pairs), so it is
  kept on the counter. The cost: an analysis or runtime error no longer
  names the Python file and line that built the failing expression.
  PySpark reads the setting once per process
  (``pyspark.errors.utils._enable_debugging_cache``), at the first Column
  call made while a session is active, so it must be set when the
  session is built; a later ``spark.conf.set`` is not seen.

Both settings together, in interleaved ``perfbench/run.py --seconds 5``
pairs on 4 vCPUs: ``recipe_audit`` ``op_cpu_s.p50`` 2.95 to 2.38 s
(lower in 10 of 10 pairs) and wall time per op 1.01 to 0.91 s;
``catalog_sync`` 3.78 to 3.20 s (5 of 5); ``operator_mix`` wall time per
op 0.158 to 0.124 s (3 of 3). They change no plan and no result.
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

# JIT compiler threads of the driver JVM: one C1 and one C2, the fewest
# tiered compilation accepts (module docstring).
JIT_COMPILER_THREADS = 2


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
        # a short session: fewer JIT threads, no call-site capture
        # (module docstring)
        .config(
            "spark.driver.defaultJavaOptions",
            f"-XX:CICompilerCount={JIT_COMPILER_THREADS}",
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
