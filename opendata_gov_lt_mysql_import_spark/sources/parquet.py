"""Parquet fixture sources.

The driver fixtures (/root/testdata/sf*/) are one parquet file per table.
At 100 TB these become partitioned parquet datasets; reads stay identical
(``spark.read.parquet`` handles directory datasets, partition pruning, and
predicate pushdown the same way), so nothing here is local-only.

Schema cache. ``spark.read.parquet(path)`` runs a Spark job on every call
to infer the schema from the footer, although a fixture file does not
change between the calls of one session (the reference harvester
reflects its source schema once per engine, ``meta.reflect()``,
``odgovlt.py:147-148``). ``load_table`` infers the schema of a plain file
once and reads it under that declared schema afterwards, which schedules
no job until the frame is evaluated. The key is the file's identity
(absolute path, ``st_mtime_ns``, size) plus the values of the read
settings that change inference (``_INFERENCE_CONFS``), so a rewritten
file or a changed setting infers again. At most ``_SCHEMA_CACHE_MAX``
schemas are kept; the least recently used is evicted first. Directory
datasets (and anything that is not a local plain file) keep Spark's own
inference on every read. Only the schema is cached: every call still
builds a new frame that re-reads the data.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# read settings whose value changes the schema Spark infers from a footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# the fixture set is 10 files per scale factor; 256 covers every scale a
# session reads plus the files tests write, and bounds the driver memory
_SCHEMA_CACHE_MAX = 256
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _read_parquet(
    spark: SparkSession, path: str
) -> tuple[DataFrame, StructType | None]:
    """``spark.read.parquet(path)`` and, for a plain file, its schema,
    inferred once (module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path), None
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = df.schema
    with _schemas_lock:
        _schemas[key] = schema
        while len(_schemas) > _SCHEMA_CACHE_MAX:
            _schemas.popitem(last=False)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _read_parquet(spark, path)[0]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_partitioned(
    df,
    path: str,
    partition_cols,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet hive-partitioned on low-cardinality layout keys
    (date, source, status) so downstream predicates prune whole
    directories instead of reading-and-filtering — the layout that makes
    a 100 TB table queryable. ``max_records_per_file`` caps file size
    against the small-files/giant-files extremes."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    w = df.write.mode(mode).partitionBy(*cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)
