"""Pins for bench.py's one timing core: the ``run`` and ``ab``
subcommands refuse unregistered names before Spark starts, ``run``
reports the same results as an in-process evaluation and, traced, the
layers of perfbench/layers.py plus the codegen and JIT counters and the
plan's operator counts, and the A/B record keeps what completed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench
from __spark_entry__ import queries

# image_dhash_dedup runs its hashing in Python workers (mapInPandas)
ENTRIES = ("q1_pricing_summary", "image_dhash_dedup")


@pytest.mark.parametrize("command", ["run", "ab", "verify_oracle"])
def test_unregistered_name_exits_2_without_a_jvm(command, sf_dir):
    argv = {
        "run": ["bench.py", "run", "no_such_entry"],
        "ab": ["bench.py", "ab", "q1_pricing_summary", "no_such_entry", "--ref", "HEAD"],
        "verify_oracle": ["tools/verify_oracle.py", sf_dir, "no_such_entry"],
    }[command]
    # a JVM start would fail on this JAVA_HOME with another exit status
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    proc = subprocess.run(
        [sys.executable, *argv], cwd=bench.HERE, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "no_such_entry" in proc.stderr


@pytest.mark.parametrize("trace", [False, True], ids=["untraced", "traced"])
def test_run_matches_in_process_evaluation(spark, sf_dir, trace):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    # traced: three runs, so the warm runs' codegen counters are seen
    runs = 3 if trace else 1
    argv = [sys.executable, "bench.py", "run", *ENTRIES, "--runs", str(runs)]
    subprocess.run(
        argv + ["--trace"] * trace, cwd=bench.HERE, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    with open(bench.PROFILE_PATH) as fh:
        record = json.load(fh)
    assert record["traced"] is trace
    for name in ENTRIES:
        want = bench.force_eval_chk(queries()[name](spark, sf_dir))
        entry = record["entries"][name]
        assert (entry["rows"], entry["chk"]) == want
        assert len(entry["runs"]) == runs
        if trace:
            run = entry["runs"][0]
            assert run["jobs_by_group"]["exec.action"]["jobs"] >= 1
            assert run["queries.py4j_calls"] > 0
            phases = [f"catalyst.{p}_s" for p in ("analysis", "optimization", "planning")]
            assert all(p in run for p in phases)
            assert sum(run[p] for p in phases) > 0
            for r in entry["runs"]:
                assert r["codegen.compiles"] >= 0 and r["codegen.compile_s"] >= 0
                assert r["jit.compile_s"] >= 0
                # the checksum aggregate is a HashAggregate in every plan
                assert r["plan.ops"].get("HashAggregate", 0) >= 1
    if trace:
        # a cold run compiles; a warm run reuses the classes compiled before it
        runs_of = {name: record["entries"][name]["runs"] for name in ENTRIES}
        assert runs_of["image_dhash_dedup"][0]["codegen.compiles"] > 0
        assert runs_of["q1_pricing_summary"][2]["codegen.compiles"] == 0


def test_ab_record_keeps_completed_rounds_and_flags_mismatch():
    rounds = [
        {"a": {"x": [[1.0, 0.1, 5, 42]], "y": [[1.0, 0.1, 3, 7]]},
         "b": {"x": [[2.0, 0.1, 5, 42]], "y": [[1.1, 0.1, 3, 8]]}},
        {"a": {"x": [[0.9, 0.1, 5, 42]], "y": [[1.0, 0.1, 3, 7]]},
         "b": "timed out after 3600 s"},
    ]
    rec = bench.ab_record(["x", "y"], rounds, {})
    assert rec["failed_sides"] == [
        {"round": 1, "side": "b", "error": "timed out after 3600 s"}
    ]
    x = rec["entries"]["x"]
    assert (x["a_s"], x["b_s"]) == ([1.0, 0.9], [2.0])
    assert x["ratio_b_over_a"] == round(2.0 / 0.9, 3)
    assert x["verdict"] == "a-faster"
    # a timing inside the noise band is no verdict when results differ
    y = rec["entries"]["y"]
    assert y["rows_chk"] == [[3, 7], [3, 8]]
    assert y["verdict"] == "checksum-mismatch"


def test_ab_record_compares_warm_minima_and_keeps_cold_calls():
    """A side times ``bench.CALLS`` calls per entry in its session; the
    record compares their minima, as the headline does, and keeps the
    first, cold call of every round beside them."""
    assert f"time_entries(spark, names, {bench.CALLS})" in bench._side_runner()
    rounds = [
        {"a": {"x": [[3.0, 0.5, 5, 42], [1.0, 0.1, 5, 42], [1.1, 0.1, 5, 42]]},
         "b": {"x": [[2.5, 0.5, 5, 42], [1.6, 0.1, 5, 42], [1.5, 0.1, 5, 42]]}},
        {"a": {"x": [[2.8, 0.5, 5, 42], [0.9, 0.1, 5, 42], [1.2, 0.1, 5, 42]]},
         "b": {"x": [[2.4, 0.5, 5, 42], [1.4, 0.1, 5, 42], [1.7, 0.1, 5, 42]]}},
    ]
    x = bench.ab_record(["x"], rounds, {})["entries"]["x"]
    assert (x["a_s"], x["b_s"]) == ([1.0, 0.9], [1.5, 1.4])
    assert (x["a_cold_s"], x["b_cold_s"]) == ([3.0, 2.8], [2.5, 2.4])
    assert (x["a_min"], x["b_min"]) == (0.9, 1.4)
    assert x["verdict"] == "a-faster"  # 1.4 / 0.9 > 1.3; the cold calls say b
    # a warm call that disagrees with the cold one is a mismatch
    rounds[1]["b"]["x"][2] = [1.7, 0.1, 5, 41]
    assert bench.ab_record(["x"], rounds, {})["entries"]["x"]["verdict"] == "checksum-mismatch"
