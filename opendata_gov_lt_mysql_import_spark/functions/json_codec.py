"""JSON / datetime codecs — the reference's staging IR contract.

- Datetime JSON encoding ``'%Y-%m-%dT%H:%M:%S'`` with the MySQL zero-date
  sentinel mapped to null (reference ``DatetimeEncoder``,
  /root/reference/odgovlt.py:131-140).
- Row↔JSON round-trip used for the per-object staging hop
  (/root/reference/odgovlt.py:363,378).
- ``extras`` pair-list ↔ map conversion
  (/root/reference/odgovlt.py:127-128).

In Spark the zero-date hazard is normalized at the source (JDBC option
``zeroDateTimeBehavior=CONVERT_TO_NULL``, see ``sources.jdbc``); the
encoder here only needs the format string.
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java SimpleDateFormat equivalent of the reference's '%Y-%m-%dT%H:%M:%S'
DATETIME_FORMAT = "yyyy-MM-dd'T'HH:mm:ss"

# MySQL's invalid-date placeholder; the reference's DatetimeEncoder maps
# it to None (odgovlt.py:131-140) because strftime raises on year 0.
ZERO_DATE = "0000-00-00 00:00:00"


def encode_datetime(c: Column) -> Column:
    """Timestamp column → reference-format string (null stays null)."""
    return F.date_format(c, DATETIME_FORMAT)


def normalize_zero_date(
    c: Column, fmt: str = "yyyy-MM-dd HH:mm:ss"
) -> Column:
    """Legacy datetime STRING → timestamp, with the MySQL zero-date
    sentinel mapped to null (reference odgovlt.py:131-140; the JDBC
    path handles the same hazard engine-side via
    ``zeroDateTimeBehavior=CONVERT_TO_NULL``, sources/jdbc.py). The
    sentinel guard runs BEFORE the parse — under ANSI mode
    ``to_timestamp('0000-00-00 ...')`` would raise, and per-row CASE
    evaluation is lazy, so guarded rows never reach the parser."""
    return F.when(
        F.trim(c) == ZERO_DATE, F.lit(None).cast("timestamp")
    ).otherwise(F.to_timestamp(c, fmt))


class _DatetimeEncoder(json.JSONEncoder):
    def default(self, obj):
        if isinstance(obj, (datetime.datetime, datetime.date)):
            try:
                return obj.strftime("%Y-%m-%dT%H:%M:%S")
            except ValueError:  # zero-date sentinel can't strftime
                return None
        return super().default(obj)


def dumps(obj) -> str:
    """Driver-side JSON encode matching the staging IR format."""
    return json.dumps(obj, cls=_DatetimeEncoder, ensure_ascii=False)


def rows_to_json(df: DataFrame, colname: str = "content") -> DataFrame:
    """S10 staging payload: every column serialized into one JSON string,
    datetimes in the reference format."""
    return df.withColumn(
        colname,
        F.to_json(F.struct(*df.columns), {"timestampFormat": DATETIME_FORMAT}),
    )


def extras_to_dict(extras: list[dict]) -> dict:
    """Pure-Python pair-list → dict (reference ``extras_to_dict``)."""
    return {x["key"]: x["value"] for x in extras}


def extras_to_map_col(c: Column) -> Column:
    """``array<struct<key,value>>`` → ``map<string,string>``."""
    return F.map_from_entries(c)


def map_to_extras_col(c: Column) -> Column:
    """``map<string,string>`` → sorted ``array<struct<key,value>>`` (sorted
    so document comparisons are deterministic)."""
    return F.array_sort(F.map_entries(c))
