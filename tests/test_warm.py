"""The warm-table lifecycle (``sources/warm.py``): one build per
(family, sf), steps that land once, nothing kept from a failure, and
the same guarantees under the registry gate's 8-thread pool."""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from opendata_gov_lt_mysql_import_spark.sources import warm


def _on_threads(fn, n=8):
    with ThreadPoolExecutor(max_workers=n) as ex:
        return list(ex.map(lambda _: fn(), range(n), timeout=600))


def test_failed_build_or_step_keeps_nothing(monkeypatch):
    monkeypatch.setattr(warm, "_CACHE", {})
    calls = []

    @warm.warm_build("probe")
    def get(spark, sf, w):
        calls.append(w.root)
        assert os.path.basename(w.root).startswith("probe_warm_")
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        w.tables("t")

    with pytest.raises(RuntimeError):
        get(None, "sf")
    w = get(None, "sf")
    assert len(calls) == 2 and get(None, "sf") is w
    assert w["t"] == os.path.join(w.root, "t")

    txns = []

    def step(txn):
        txns.append(txn)
        if len(txns) == 1:
            raise RuntimeError("first step fails")
        return len(txns)

    with pytest.raises(RuntimeError):
        w.once("ingest", step)
    assert w.once("ingest", step) == 2 and w.once("ingest", step) == 2
    assert txns == ["probe-warm-ingest-1"] * 2


def test_build_and_step_run_once_under_thread_switching(monkeypatch):
    """More threads than cores and a short switch interval race one
    build and one step; an unlocked check-then-act runs either twice."""
    monkeypatch.setattr(warm, "_CACHE", {})
    builds, txns = [], []

    @warm.warm_build("race")
    def get(spark, sf, w):
        builds.append(w.root)
        time.sleep(0.01)

    def step(txn):
        txns.append(txn)
        time.sleep(0.01)
        return len(txns)

    def call():
        w = get(None, "sf")
        return w, w.once("step", step)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = _on_threads(call, n=16)
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1 and txns == ["race-warm-step-1"]
    assert all(w is got[0][0] and n == 1 for w, n in got)


def test_warm_entries_build_and_step_once_across_threads(
    spark, sf_dir, monkeypatch
):
    from opendata_gov_lt_mysql_import_spark.queries_ml import _ivfadc_warm_ingest
    from opendata_gov_lt_mysql_import_spark.queries_sql import _zorder_fixture
    from opendata_gov_lt_mysql_import_spark.sources.snapshots import (
        snapshot_history,
    )

    monkeypatch.setattr(warm, "_CACHE", {})
    got = _on_threads(lambda: _ivfadc_warm_ingest(spark, sf_dir))
    assert all(d is got[0] for d in got)
    assert len(snapshot_history(got[0]["codes"])) == 2  # build + ingest
    tables = _on_threads(lambda: _zorder_fixture(spark, sf_dir)["orders_z"])
    assert len(set(tables)) == 1, tables


def test_zorder_pruned_scan_on_empty_orders(spark, sf_dir, tmp_path, monkeypatch):
    """Empty ``orders``: NULL slice bounds, 0 rows on both engines, and
    no Z-ordered table cached for that sf."""
    import __spark_entry__ as entrymod
    from opendata_gov_lt_mysql_import_spark.oracle_gate import (
        check_query,
        duckdb_connect,
    )
    from opendata_gov_lt_mysql_import_spark.sources import TABLES

    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t == "orders":
            pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / f"{t}.parquet")
        else:
            os.symlink(src, tmp_path / f"{t}.parquet")
    monkeypatch.setattr(warm, "_CACHE", {})
    name = "zorder_pruned_scan"
    err, nrows = check_query(
        spark,
        duckdb_connect(str(tmp_path)),
        str(tmp_path),
        entrymod.queries()[name],
        entrymod.oracle_sql()[name],
    )
    assert (err, nrows) == (None, 0)
    assert warm._CACHE == {}
