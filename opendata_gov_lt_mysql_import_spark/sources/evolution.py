"""Schema evolution for long-lived parquet datasets.

A 100 TB corpus is written over months: early files lack columns that
later files carry, types widen (int → bigint), and readers must present
one stable schema over the whole directory. The reference sidesteps
this with runtime MySQL reflection over a single live schema
(odgovlt.py:147-148); a file-based lake needs it explicitly.

Two read strategies, chosen by whether a target schema is declared:

- **discovery** (no target): ``mergeSchema=true`` — Spark unions every
  file footer. Correct for ADDITIVE drift only (it refuses widened
  types: int vs bigint fails with CANNOT_MERGE_SCHEMAS), and costs
  O(#files) footer reads on the driver; fine interactively, NOT the
  thing to do over millions of files.
- **declared** (target given): ``.schema(target)`` — no footer merge at
  all; the parquet reader null-fills columns a file lacks and upcasts
  compatible types per file (int→bigint works HERE, unlike the merge
  path). This is the scale path: the schema is a catalog fact, not
  something rediscovered per query.

``align_to_schema`` is the write-side half: project any batch onto the
sink's stable schema (add missing columns as typed defaults, cast
compatible drifts, drop extras) before appending — so the dataset never
forks schemas in the first place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_evolved(
    spark: SparkSession,
    path: str,
    target_schema: StructType | None = None,
    defaults: dict | None = None,
) -> DataFrame:
    """Read a parquet directory whose files were written under drifting
    schemas, presenting one stable schema.

    With ``target_schema`` (the scale path) the read is footer-merge-free
    and files missing a column yield typed NULLs; without it, the union
    schema is discovered via ``mergeSchema``. ``defaults`` maps column
    name → literal used in place of NULL for rows from files that
    pre-date the column (applied only to columns in ``defaults`` — a
    genuine NULL in a file that HAS the column is preserved only when no
    default is declared for it).
    """
    if target_schema is not None:
        df = spark.read.schema(target_schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    if defaults:
        df = df.select(
            *[
                F.coalesce(F.col(f.name), F.lit(defaults[f.name]).cast(f.dataType)).alias(f.name)
                if f.name in defaults
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    return df


def align_to_schema(
    df: DataFrame, target: StructType, defaults: dict | None = None
) -> DataFrame:
    """Project a batch onto a sink's stable schema: missing columns
    become typed defaults (NULL when undeclared), present columns are
    cast to the target type (upcasts — int→bigint, float→double), extra
    columns are dropped, order follows the target. Pure projection: no
    shuffle, rides whatever scan produced the batch."""
    defaults = defaults or {}
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name))
    return df.select(*cols)
