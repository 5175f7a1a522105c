"""Plan construction starts no Python worker and no hidden job.

- Driver-held rows become JVM ``LocalRelation``s (``sources/local.py``):
  every package builder of such a frame returns one, and no frame in
  ``pq_recall_calibration_trained`` is scanned from a Python RDD.
- ``load_table`` infers each parquet file's schema once
  (``sources/parquet.py``).
- No package module but ``sources/local.py`` calls ``createDataFrame``.
- ``merge_snapshot`` skips its key probe when no file has stats on the
  key (``sources/snapshots.py``).
- Column and DataFrame calls record no Python call site, so they send
  no py4j commands for it (``session.get_spark``).
"""

from __future__ import annotations

import ast
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _jobs(spark, fn, tag):
    """(scheduled jobs, result) of ``fn()`` under a dedicated job group."""
    sc = spark.sparkContext
    group = f"construction-work-{tag}"
    sc.setJobGroup(group, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or []), out


def _leaves(df):
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while it.hasNext():
        yield it.next()


def _python_rdd_scans(df) -> list[str]:
    """Lineages of the RDD-backed leaves of ``df``'s plan that run a
    Python RDD (each such scan starts Python worker tasks)."""
    lineages = (
        leaf.rdd().toDebugString()
        for leaf in _leaves(df)
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    )
    return [lineage for lineage in lineages if "PythonRDD" in lineage]


def _has_local_leaf(df) -> bool:
    return any(
        leaf.getClass().getSimpleName() == "LocalRelation" for leaf in _leaves(df)
    )


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "opendata_gov_lt_mysql_import_spark"


def _create_dataframe_calls(source: str) -> list[int]:
    """Line numbers of ``<anything>.createDataFrame(...)`` calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_local_frame():
    """Frames of driver-held rows go through ``local_frame``; a bare
    ``createDataFrame`` over Python rows scans a Python RDD."""
    assert _create_dataframe_calls("x = s.createDataFrame([(1,)], 'a long')") == [1]
    found = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / "sources" / "local.py"
        and (lines := _create_dataframe_calls(p.read_text(encoding="utf-8")))
    }
    assert found == {}, f"use sources.local.local_frame instead: {found}"


def test_local_frame_is_a_local_relation(spark):
    from opendata_gov_lt_mysql_import_spark.sources.local import local_frame

    df = local_frame(spark, [(1, [2, 3]), (4, None)], "a long, b array<bigint>")
    assert df.isLocal()
    assert [tuple(r) for r in df.collect()] == [(1, [2, 3]), (4, None)]
    empty = local_frame(spark, [], df.schema)
    assert empty.isLocal() and empty.schema == df.schema and empty.count() == 0
    with pytest.raises(ValueError, match="every row needs 2 values"):
        local_frame(spark, [(1, [2]), (3,)], df.schema)


def test_local_frame_refuses_the_rdd_fallback(spark):
    from opendata_gov_lt_mysql_import_spark.sources.local import (
        LocalFrameError,
        local_frame,
    )

    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        with pytest.raises(LocalFrameError, match="localRelationThreshold"):
            local_frame(spark, [(i,) for i in range(100)], "a long")
    finally:
        spark.conf.set(key, old)


def test_operator_builders_return_local_relations(spark, sf_dir, tmp_path):
    from opendata_gov_lt_mysql_import_spark.operators.bpe import learn_bpe
    from opendata_gov_lt_mysql_import_spark.operators.clustering import (
        lloyd_fixed_point,
    )
    from opendata_gov_lt_mysql_import_spark.operators.dedup import (
        connected_components,
    )
    from opendata_gov_lt_mysql_import_spark.operators.graph import triangle_count
    from opendata_gov_lt_mysql_import_spark.plans.sync import ensure_harvest_user
    from opendata_gov_lt_mysql_import_spark.sources import load_table
    from opendata_gov_lt_mysql_import_spark.sources.snapshots import (
        _read_files,
        commit_snapshot,
        resolve_snapshot,
    )

    pairs = spark.range(1, 4).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    assert connected_components(pairs).isLocal()
    _assigned, cent = lloyd_fixed_point(load_table(spark, sf_dir, "embeddings"))
    assert cent.isLocal()
    words = spark.range(1).select(F.lit("low lower lowest").alias("t"))
    assert learn_bpe(words, "t", 2).isLocal()
    edges = spark.range(3).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 3).alias("dst")
    )
    assert triangle_count(edges).isLocal()
    users = spark.range(2).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("name"),
        F.lit(False).alias("sysadmin"),
    )
    synced = ensure_harvest_user(users)
    assert _has_local_leaf(synced) and not _python_rdd_scans(synced)
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(3), t)
    assert _read_files(spark, t, resolve_snapshot(t), []).isLocal()


def test_query_builders_return_local_relations(spark, sf_dir):
    import __spark_entry__ as entry
    from opendata_gov_lt_mysql_import_spark import queries_ml as Q

    reg = entry.queries()
    assert reg["classifier_train_perceptron"](spark, sf_dir).isLocal()
    assert reg["pq_train_codebook"](spark, sf_dir).isLocal()
    _sub, cb, _asg = Q._pq_train_frames(spark, sf_dir)
    assert cb.isLocal()
    dirs = Q._ivfadc_warm_dirs(spark, sf_dir)
    _probed, qres = Q._ivfadc_warm_probe(spark, sf_dir, dirs)
    assert qres.isLocal()


def test_pq_recall_trained_scans_no_python_rdd(spark, sf_dir):
    """The trained codebook reached the audit as a Python-RDD frame, so
    every evaluation started Python worker tasks for its broadcast."""
    import __spark_entry__ as entry

    df = entry.queries()["pq_recall_calibration_trained"](spark, sf_dir)
    assert df.count() == 64
    assert _python_rdd_scans(df) == []
    assert _has_local_leaf(df)


def test_load_table_infers_each_file_schema_once(spark, tmp_path):
    from opendata_gov_lt_mysql_import_spark.sources import parquet as P

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    n1, df1 = _jobs(spark, lambda: P.load_table(spark, str(tmp_path), "t"), "cold")
    assert n1 >= 1 and df1.columns == ["a"]
    n2, df2 = _jobs(spark, lambda: P.load_table(spark, str(tmp_path), "t"), "warm")
    assert n2 == 0, "a second read of an unchanged file inferred its schema again"
    assert df2.schema == df1.schema and df2.count() == 3
    # a rewritten file is a new key: the next read infers the new schema
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df3 = P.load_table(spark, str(tmp_path), "t")
    assert df3.columns == ["a", "b"] and df3.count() == 2


def test_schema_cache_is_bounded(spark, tmp_path, monkeypatch):
    from opendata_gov_lt_mysql_import_spark.sources import parquet as P

    monkeypatch.setattr(P, "_SCHEMA_CACHE_MAX", 2)
    for i in range(4):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")
        assert P.load_table(spark, str(tmp_path), f"t{i}").columns == [f"c{i}"]
        assert len(P._schemas) <= 2


def test_load_table_reads_events_under_the_callers_conf(spark, sf_dir):
    """``load_table`` sets no session conf on an ``events`` read (the
    session's settings belong to ``get_spark`` and its caller), and
    ``events.ts``, written as microsecond timestamps, reads as a
    timestamp."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from opendata_gov_lt_mysql_import_spark.sources import parquet as P

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = P.load_table(spark, sf_dir, "events")
        assert spark.conf.get(key) == "false"
        assert isinstance(df.schema["ts"].dataType, (TimestampType, TimestampNTZType))
    finally:
        spark.conf.set(key, before)


def test_string_keyed_merge_runs_no_probe(spark, tmp_path):
    """String keys carry no file stats, so the distinct-key probe could
    prune nothing; the merge must skip it and rewrite every file."""
    from opendata_gov_lt_mysql_import_spark.sources.snapshots import (
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
        resolve_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(0, 100).select(
            F.format_string("k%03d", "id").alias("id"), F.col("id").alias("v")
        ),
        t,
        target_files=2,
    )
    before = resolve_snapshot(t)
    assert not any((before["stats"].get(f) or {}).get("id") for f in before["files"])
    src = spark.range(2).select(
        F.when(F.col("id") == 0, "k005").otherwise("k500").alias("id"),
        (-1 - F.col("id")).alias("v"),
    )
    n, _v = _jobs(spark, lambda: merge_snapshot(spark, t, src, on="id"), "merge")
    after = resolve_snapshot(t)
    assert not set(before["files"]) & set(after["files"])  # every file rewritten
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 101 and got["k005"] == -1 and got["k500"] == -2
    assert got["k006"] == 6
    # parent of this change: 5 (the probe's distinct collect took two)
    assert n <= 3, f"string-keyed merge scheduled {n} jobs"


def test_column_calls_capture_no_call_site(spark):
    """With PySpark's call-site capture on (its default),
    ``F.col("a").alias("b")`` sent 24 py4j commands and
    ``df.select(F.col("id").alias("b"))`` 30."""
    from pyspark.errors.utils import is_debugging_enabled

    from perfbench.layers import Py4jCounter

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    df = spark.range(3)
    counter = Py4jCounter()
    counter.install()
    try:
        F.col("warm").alias("up")
        counter.arm()
        F.col("a").alias("b")
        alias = counter.disarm()
        counter.arm()
        df.select(F.col("id").alias("b"))
        select = counter.disarm()
    finally:
        counter.uninstall()
    assert alias <= 4, f"F.col(...).alias(...) sent {alias} py4j commands"
    assert select <= 10, f"df.select(...) sent {select} py4j commands"
