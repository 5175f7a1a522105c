"""Scalar function library — the reference's F1-F9 surface (SURVEY.md §2.7).

Pure-Python reference-semantics implementations live in ``text`` (the
spec and the unit tests' oracle); query plans use their Spark
column-expression equivalents (JVM-side, no Python worker).
"""

from .text import (  # noqa: F401
    fixcase,
    fixcase_col,
    get_package_tags,
    package_tags_col,
    slugify,
    slugify_col,
    tagify,
    tagify_col,
    transliterate,
)
from .json_codec import (  # noqa: F401
    DATETIME_FORMAT,
    encode_datetime,
    extras_to_dict,
    extras_to_map_col,
    map_to_extras_col,
    rows_to_json,
)
from .diff import was_changed, changed_rows  # noqa: F401
