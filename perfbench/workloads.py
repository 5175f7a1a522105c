"""The three workloads, driven through the package's public surface.

A workload prepares its inputs, runs one untimed warm-up pass that is
also the checked run, and then exposes ``round()`` (the names of the ops
in one round) and ``op()`` (one timed op) to the runner in ``run.py``.
Correctness checks run apart from the timed ops, in ``check()``.

- ``operator_mix`` and ``recipe_audit`` evaluate registered queries
  (``queries()[name](spark, sf)``, then a full-evaluation checksum).
  Their checked run compares every entry with the registry's own DuckDB
  oracle through ``oracle_gate.check_query``; every timed repetition must
  give the checked run's row count and checksum.
- ``catalog_sync`` runs harvest sync cycles: ``package_documents`` over
  the cycle's sources, ``plan_sync`` against a snapshot catalog table,
  ``counts()``, ``merge_snapshot`` of creates and updates, and
  ``delete_snapshot_rows`` of the deletes. Each cycle is checked against
  the generator's ground truth.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time

import gen
from layers import dir_mb

OPERATOR_MIX = (
    "s2_filtered_scan",
    "j1_left_join_default",
    "j3_mn_collect",
    "j7_stale_anti",
    "w1_tree_closure",
    "f4_package_tags",
    "q9_nation_year_profit",
    "q21_waiting_suppliers",
    "window_top_order_per_customer",
    "events_sessionize",
)
RECIPE_AUDIT = (
    "pq_recall_calibration_trained",
    "ivfadc_recall_calibration",
)
FIXTURE_SF = 0.01
SYNC_DATASETS = 4000
SYNC_CYCLES = 24
HARVEST_TABLES = ("user", "istaiga", "rinkmena", "kategorija", "kategorija_rinkmena")


class CheckFailed(AssertionError):
    """An output of the program differs from its expected value."""


_HASH = "__perfbench_h"


def _hashed(df):
    """``df`` plus one xxhash64 column over every output column (map
    columns serialised to JSON first, as xxhash64 rejects them)."""
    from pyspark.sql import functions as F

    cols = []
    for fld in df.schema.fields:
        c = F.col(fld.name)
        if "map<" in fld.dataType.simpleString():
            c = F.to_json(c)
        cols.append(c)
    return df.select("*", F.xxhash64(*cols).alias(_HASH))


def evaluate(df):
    """Evaluate every column of every row; return ``(rows, checksum,
    aggregated frame)``. The checksum is ``bench.force_eval_chk``'s:
    bit_xor of xxhash64 over all columns. The aggregated frame is the one
    the action ran, so its query execution can be inspected afterwards."""
    from pyspark.sql import functions as F

    agg = _hashed(df).agg(
        F.count(F.lit(1)).alias("n"), F.expr(f"bit_xor({_HASH})").alias("chk")
    )
    row = agg.collect()[0]
    return row["n"], row["chk"] if row["chk"] is not None else 0, agg


class Collected:
    """A built entry's rows, collected once together with their hashes;
    stands in for the DataFrame in ``oracle_gate.check_query`` (which
    reads ``columns``, ``schema`` and ``collect()``)."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self.rows = _hashed(df).collect()
        self.checksum = 0
        for r in self.rows:
            self.checksum ^= r[_HASH]

    def collect(self):
        return self.rows


class OracleResults:
    """Stands in for a DuckDB connection in ``oracle_gate.check_query``:
    ``execute(sql).fetch_df()`` returns the frame the oracle subprocess
    computed for that SQL, so the comparison is the gate's own."""

    def __init__(self, by_sql: dict[str, object]):
        self.by_sql = by_sql

    def execute(self, sql: str):
        result = self.by_sql[sql]
        if isinstance(result, str):
            raise RuntimeError(result)
        return _Fetched(result)


class _Fetched:
    def __init__(self, df):
        self.df = df

    def fetch_df(self):
        return self.df


def start_oracles(data_dir: str, names, out_path: str, threads: int) -> subprocess.Popen:
    """Run the DuckDB oracles in a subprocess with a capped memory limit,
    so DuckDB never competes with the JVM heap for the process's memory."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles.py")
    return subprocess.Popen(
        [sys.executable, script, "--data", data_dir, "--out", out_path,
         "--threads", str(threads), *names],
    )


def wait_oracles(proc: subprocess.Popen, out_path: str) -> dict[str, object]:
    try:
        code = proc.wait(timeout=150)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if code != 0:
        raise RuntimeError(f"oracle subprocess exited with {code}")
    with open(out_path, "rb") as f:
        return pickle.load(f)  # written by oracles.py in this run


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Registered entries, built and then evaluated in full, one op each."""

    entries: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "data")
        self.reference: dict[str, tuple[int, int]] = {}
        self.failures: list[str] = []

    def prepare_inputs(self) -> None:
        gen.write_fixture_tables(self.sf_dir, self.ctx.seed, FIXTURE_SF)

    def start_checks(self) -> None:
        self._oracle_out = os.path.join(self.ctx.work, "oracles.pkl")
        self._oracle_proc = start_oracles(
            self.sf_dir, self.entries, self._oracle_out, self.ctx.cpus
        )

    def warm_up(self, spark) -> None:
        """The checked run: each entry is built and collected once, with
        a hash per row, and compared with its oracle; its row count and
        checksum become the reference for every timed repetition."""
        import __spark_entry__ as entry
        from opendata_gov_lt_mysql_import_spark.oracle_gate import check_query

        self.spark = spark
        self.queries = entry.queries()
        oracle_sql = entry.oracle_sql()
        t0 = time.perf_counter()
        oracles = OracleResults(wait_oracles(self._oracle_proc, self._oracle_out))
        print(f"warm-up waited {time.perf_counter() - t0:.2f} s for the oracles")
        for name in self.entries:
            t0 = time.perf_counter()
            got = Collected(self.queries[name](spark, self.sf_dir))
            failure, nrows = check_query(
                spark, oracles, self.sf_dir, lambda s, d, _got=got: _got, oracle_sql[name]
            )
            if failure:
                self.failures.append(f"{name}: oracle check failed: {failure}")
            elif nrows == 0:
                self.failures.append(f"{name}: empty result; the input exercises nothing")
            self.reference[name] = (len(got.rows), got.checksum)
            print(f"warm-up {name}: {time.perf_counter() - t0:.2f} s")

    def close(self) -> None:
        """Make sure the oracle subprocess has ended."""
        proc = getattr(self, "_oracle_proc", None)
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()

    def round(self) -> tuple[str, ...]:
        return self.entries

    def op(self, name: str, op_id: int):
        span, rec = self.ctx.tracer.span, self.ctx.layers
        with span("queries.construct", op_id):
            rec.arm_py4j()
            df = self.queries[name](self.spark, self.sf_dir)
            rec.record(op_id, "queries.py4j_calls", rec.disarm_py4j())
        with span("exec.action", op_id):
            n, chk, agg = evaluate(df)
        rec.after_action(op_id, agg)
        return name, (n, chk)

    def check(self, result) -> None:
        name, got = result
        if got != self.reference[name]:
            raise CheckFailed(f"{name}: got {got}, checked run gave {self.reference[name]}")

    def stored_mb(self) -> float:
        return 0.0


class OperatorMix(QueryWorkload):
    entries = OPERATOR_MIX


class RecipeAudit(QueryWorkload):
    entries = RECIPE_AUDIT


# ---------------------------------------------------------------------------
# catalog sync
# ---------------------------------------------------------------------------

CHECK_FIELDS = ("title", "url", "maintainer", "maintainer_email")


class CatalogSync:
    """Harvest sync cycles into a snapshot catalog table.

    The warm-up pass is the first harvest: every published dataset is a
    create into an empty catalog. Each timed op is one further cycle."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "harvest")
        self.catalog = os.path.join(self.root, "catalog")
        self.cycles: list[gen.Cycle] = []
        self.next = 0
        self.failures: list[str] = []

    def prepare_inputs(self) -> None:
        g = gen.HarvestGenerator(self.ctx.seed, n_datasets=SYNC_DATASETS)
        gen.write_source(self._src(0), g.source_tables())
        self.cycles.append(
            gen.Cycle(
                number=0,
                creates=g.active(),
                updates=set(),
                deletes=set(),
                active=g.active(),
                expected={str(i): g.expected_doc(i) for i in g.active()},
            )
        )
        self.source_rows = [len(g.rows)]
        for _ in range(SYNC_CYCLES):
            self.cycles.append(g.next_cycle())
            gen.write_source(self._src(len(self.cycles) - 1), g.source_tables())
            self.source_rows.append(len(g.rows))

    def _src(self, c: int) -> str:
        return os.path.join(self.root, f"source-{c:03d}")

    def start_checks(self) -> None:
        pass

    def close(self) -> None:
        pass

    def _tables(self, c: int):
        return {
            t: self.spark.read.parquet(os.path.join(self._src(c), f"{t}.parquet"))
            for t in HARVEST_TABLES
        }

    def warm_up(self, spark) -> None:
        from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
        from opendata_gov_lt_mysql_import_spark.sources.snapshots import commit_snapshot

        self.spark = spark
        schema = HarvestPipeline(spark, self._tables(0)).package_documents().schema
        commit_snapshot(spark.createDataFrame([], schema), self.catalog, mode="overwrite")
        result = self.op("cycle", self.ctx.new_op())
        try:
            self.check(result, replan=False)
        except CheckFailed as e:
            self.failures.append(str(e))

    def round(self) -> tuple[str, ...]:
        return ("cycle",) if self.next < len(self.cycles) else ()

    def op(self, name: str, op_id: int):
        from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
        from opendata_gov_lt_mysql_import_spark.plans.sync import plan_sync
        from opendata_gov_lt_mysql_import_spark.sources.snapshots import (
            delete_snapshot_rows,
            merge_snapshot,
            read_snapshot,
        )

        c = self.next
        self.next += 1
        spark, span, rec = self.spark, self.ctx.tracer.span, self.ctx.layers
        rec.before_write(op_id, self.catalog)
        with span("plans.package_documents", op_id):
            incoming = HarvestPipeline(spark, self._tables(c)).package_documents()
        with span("sources.read_snapshot", op_id):
            existing = read_snapshot(spark, self.catalog)
        with span("plans.plan_sync", op_id):
            plan = plan_sync(incoming, existing, key="id")
        with span("plans.counts", op_id):
            counts = plan.counts()
        with span("sources.merge_snapshot", op_id):
            merge_snapshot(spark, self.catalog, plan.creates.unionByName(plan.updates), on="id")
        with span("plans.delete_keys", op_id):
            keys = [r[0] for r in plan.deletes.select("id").collect()]
        if keys:
            with span("sources.delete_snapshot_rows", op_id):
                delete_snapshot_rows(spark, self.catalog, [("id", "in", keys)])
        rec.after_write(op_id, self.catalog)
        rec.record(op_id, "plans.source_rows", self.source_rows[c])
        return c, counts

    def check(self, result, replan: bool = True) -> None:
        """The cycle's counts, the catalog's key set and the fields of
        every changed document against the generator; then (for timed
        cycles) a second plan against the unchanged source must find
        nothing to do."""
        from pyspark.sql import functions as F

        from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
        from opendata_gov_lt_mysql_import_spark.plans.sync import plan_sync
        from opendata_gov_lt_mysql_import_spark.sources.snapshots import read_snapshot

        c, counts = result
        truth = self.cycles[c]
        if counts != truth.counts():
            raise CheckFailed(f"cycle {c}: plan counts {counts}, generator {truth.counts()}")
        catalog = read_snapshot(self.spark, self.catalog)
        rows = catalog.select(
            "id", *CHECK_FIELDS,
            F.size("tags").alias("n_tags"), F.size("groups").alias("n_groups"),
        ).collect()
        ids = [r["id"] for r in rows]
        if len(ids) != len(set(ids)) or set(ids) != {str(i) for i in truth.active}:
            raise CheckFailed(f"cycle {c}: catalog keys differ from the active datasets")
        by_id = {r["id"]: r.asDict() for r in rows}
        for key, want in truth.expected.items():
            got = {k: by_id[key][k] for k in want}
            if got != want:
                raise CheckFailed(f"cycle {c}: document {key} is {got}, expected {want}")
        if not replan:
            return
        again = plan_sync(
            HarvestPipeline(self.spark, self._tables(c)).package_documents(),
            read_snapshot(self.spark, self.catalog),
            key="id",
        ).counts()
        if again != {"create": 0, "update": 0, "delete": 0}:
            raise CheckFailed(f"cycle {c}: planning again against unchanged input gave {again}")

    def stored_mb(self) -> float:
        return dir_mb(self.catalog)


WORKLOADS = {
    "catalog_sync": CatalogSync,
    "operator_mix": OperatorMix,
    "recipe_audit": RecipeAudit,
}
