"""Driver-held rows as JVM ``LocalRelation``s.

``spark.createDataFrame(<python rows>)`` builds a ``LogicalRDD`` over a
Python RDD: every action that reads the frame starts Python worker tasks
to unpickle the rows, and the optimizer sees no size statistics, so it
never broadcasts the frame on its own. ``local_frame`` ships the rows to
the JVM as one Arrow stream instead (``createDataFrame`` over a
``pyarrow.Table``). Below ``spark.sql.execution.arrow.localRelationThreshold``
(48 MiB by default) Spark keeps them as a ``LocalRelation``: the rows live
in the plan, scans are ``LocalTableScan`` and no Python worker starts.
Above it Spark would parallelize the batches into an RDD; ``local_frame``
raises ``LocalFrameError`` rather than return that frame.

Every package frame built from Python rows goes through ``local_frame``;
``tests/test_plan_lint.py`` fails on any other ``createDataFrame`` call in
the package.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


class LocalFrameError(RuntimeError):
    """The rows did not become a ``LocalRelation``."""


@lru_cache(maxsize=64)
def _ddl_struct(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """A ``LocalRelation`` frame of ``rows`` (tuples in ``schema``'s
    field order) under ``schema`` (a ``StructType`` or a DDL string)."""
    struct = _ddl_struct(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    if any(len(r) != len(arrow) for r in rows):
        # zip(*rows) would silently cut every row to the shortest one
        raise ValueError(f"every row needs {len(arrow)} values: {struct.simpleString()}")
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, struct)
    if not df.isLocal():
        raise LocalFrameError(
            f"{table.num_rows} rows ({table.nbytes} Arrow bytes) exceed "
            "spark.sql.execution.arrow.localRelationThreshold and would be "
            "scanned from an RDD; read them from a file source instead"
        )
    return df
