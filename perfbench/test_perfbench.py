"""Fast tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import OracleResults  # noqa: E402

# -- the oracle comparison ----------------------------------------------------


class _Frame:
    """The three attributes ``oracle_gate.check_query`` reads from a
    built entry."""

    def __init__(self, rows, schema):
        self.rows, self.schema = rows, schema
        self.columns = [f.name for f in schema.fields]

    def collect(self):
        return self.rows


def _check(spark_rows, oracle_df):
    from pyspark.sql import Row
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from opendata_gov_lt_mysql_import_spark.oracle_gate import check_query

    schema = StructType([
        StructField("k", LongType()), StructField("name", StringType()),
        StructField("v", DoubleType()),
    ])
    frame = _Frame([Row(**r) for r in spark_rows], schema)
    sql = "SELECT k, name, v FROM t"
    return check_query(None, OracleResults({sql: oracle_df}), "", lambda s, d: frame, sql)


ROWS = [
    {"k": 1, "name": "šiluma", "v": 1.5},
    {"k": 2, "name": "keliai", "v": 2.25},
    {"k": 3, "name": None, "v": 0.1},
]


def test_comparison_accepts_the_same_rows_in_any_order():
    failure, n = _check(ROWS, pd.DataFrame(list(reversed(ROWS))))
    assert failure is None and n == 3


@pytest.mark.parametrize(
    "field,value", [("v", 2.26), ("name", "kelias"), ("k", 4), ("name", None)]
)
def test_comparison_rejects_a_perturbed_row(field, value):
    perturbed = [dict(r) for r in ROWS]
    perturbed[1][field] = value
    failure, _ = _check(ROWS, pd.DataFrame(perturbed))
    assert failure is not None and "values differ" in failure


def test_comparison_rejects_a_missing_row():
    failure, _ = _check(ROWS, pd.DataFrame(ROWS[:2]))
    assert failure is not None and "rowcount" in failure


def test_failed_oracle_is_reported():
    failure, _ = _check(ROWS, "duckdb error: out of memory")
    assert failure is not None and "out of memory" in failure


# -- the generators -------------------------------------------------------------


def _tables_equal(a, b):
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_fixture_generator_is_deterministic_for_a_seed():
    first = gen.fixture_tables(7, 0.001)
    assert _tables_equal(first, gen.fixture_tables(7, 0.001))
    assert not _tables_equal(first, gen.fixture_tables(8, 0.001))
    assert {k: t.num_rows for k, t in first.items()} == gen.table_rows(0.001)


def _cycles(seed, n=3):
    g = gen.HarvestGenerator(seed, n_datasets=300)
    out = [(g.source_tables(), None)]
    for _ in range(n):
        cycle = g.next_cycle()
        out.append((g.source_tables(), cycle))
    return out


def test_harvest_generator_is_deterministic_for_a_seed():
    a, b, other = _cycles(3), _cycles(3), _cycles(4)
    for (ta, ca), (tb, cb) in zip(a, b):
        assert _tables_equal(ta, tb)
        assert ca == cb
    assert not all(_tables_equal(ta, to) for (ta, _), (to, _) in zip(a, other))


def test_harvest_ground_truth_matches_the_tables():
    g = gen.HarvestGenerator(5, n_datasets=300)
    before = g.active()
    cycle = g.next_cycle()
    assert cycle.counts() == {"create": g.k_create, "update": g.k_update, "delete": g.k_delete}
    assert not (cycle.creates & cycle.updates or cycle.updates & cycle.deletes)
    assert cycle.updates | cycle.deletes <= before
    assert cycle.active == (before - cycle.deletes) | cycle.creates
    rinkmena = g.source_tables()["rinkmena"].to_pylist()
    assert {r["ID"] for r in rinkmena if r["STATUSAS"] == "U"} == cycle.active
    assert set(cycle.expected) == {str(i) for i in cycle.creates | cycle.updates}


def test_expected_tag_counts_follow_the_tag_pipeline():
    from opendata_gov_lt_mysql_import_spark.functions.text import get_package_tags

    g = gen.HarvestGenerator(9, n_datasets=300)
    for row in g.rows.values():
        assert len(get_package_tags(row.R_ZODZIAI)) == row.n_tags


# -- the py4j counter ------------------------------------------------------------


def test_py4j_counter_ignores_gc_deletes_and_other_threads():
    c = layers.Py4jCounter()
    c.observe("c\no12\ngetName\ne\n")  # not armed
    c.arm()
    c.observe("c\no12\ngetName\ne\n")
    c.observe("m\nd\no12\ne\n")  # garbage-collection delete
    c.observe("r\nu\norg\ne\n")
    t = threading.Thread(target=c.observe, args=("c\no13\nx\ne\n",))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert c.disarm() == 2


def test_py4j_counter_wraps_both_connection_classes():
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    sent = []
    saved = {cls: cls.send_command for cls in (ClientServerConnection, GatewayConnection)}
    try:
        for cls in saved:
            cls.send_command = lambda conn, command: sent.append(command) or "ok"
        c = layers.Py4jCounter()
        c.install()
        c.arm()
        for cls in saved:
            assert cls.send_command(object(), "c\no1\nf\ne\n") == "ok"
            cls.send_command(object(), "m\nd\no1\ne\n")
        assert c.disarm() == 2 and len(sent) == 4
        c.uninstall()
    finally:
        for cls, original in saved.items():
            cls.send_command = original


# -- spans and the event log -------------------------------------------------------


def test_self_time_subtracts_direct_children():
    t = layers.Tracer()
    with t.span("op", 1):
        with t.span("child", None):
            pass
    op, child = t.spans
    assert child.op == 1 and child.parent == 0
    assert t.self_times()[0] == pytest.approx(op.duration - child.duration)


def test_event_log_groups_jobs_tasks_and_scan_rows(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    plan = {"nodeName": "HashAggregate", "children": [{
        "nodeName": "Scan parquet ", "children": [],
        "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/x/rinkmena.parquet]"},
        "metrics": [{"name": "number of output rows", "accumulatorId": 77}],
    }], "metrics": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb:3:plans.counts"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 77, "Update": "40"}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Input Metrics": {"Bytes Read": 1048576},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152}}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    st = layers.read_event_log(str(tmp_path))["pb:3:plans.counts"]
    assert (st.jobs, st.tasks) == (1, 1)
    assert st.task_cpu_s == 2.0 and st.input_mb == 1.0 and st.shuffle_write_mb == 2.0
    assert st.scan_rows == {"rinkmena.parquet": 40}
