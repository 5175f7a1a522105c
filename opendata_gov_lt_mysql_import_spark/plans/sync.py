"""Diff-sync engine — compute create/update/delete sets and apply them
idempotently (reference J4-J7 + F5 + the per-row create_or_update sinks,
/root/reference/odgovlt.py:205-211, 249-255, 276-287, 312-318, 407).

The reference interleaves existence probes and API writes row by row.
Here the three sets are computed declaratively (anti joins + the
canonical-JSON changed-rows diff) and applied through a batched
``foreachPartition`` sink. ``plan_sync`` materializes the sets at call
time from one derivation of incoming, so later reads of the plan
(counts, writes, the JDBC sink's updates and deletes) re-query neither
source nor sink. Ordering constraints for hierarchies (parents
before children on create, children before parents on delete) are
satisfied by applying per topological depth, ascending or descending.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.diff import changed_rows
from ..operators.joins import stale_rows
from ..sources.local import local_frame


def ensure_harvest_user(users: DataFrame, name: str = "harvest") -> DataFrame:
    """``sync_harvest_user`` analog (reference odgovlt.py:160-181): make
    sure one sysadmin row named ``name`` exists in the users frame before
    a sync — absent → created (with the reference's bootstrap password),
    present without sysadmin → promoted, already sysadmin → unchanged.
    Idempotent: applying twice is a fixpoint.

    Expects ``name`` and ``sysadmin`` columns; any other columns of the
    bootstrap row are null (except ``password``, which gets the
    reference's literal default when the column exists)."""
    promoted = users.withColumn(
        "sysadmin",
        F.when(F.col("name") == name, F.lit(True)).otherwise(F.col("sysadmin")),
    )
    defaults = {"name": name, "sysadmin": True, "password": "secret123"}
    spark = users.sparkSession
    bootstrap = local_frame(
        spark, [tuple(defaults.get(f.name) for f in users.schema.fields)], users.schema
    )
    missing = bootstrap.join(users.select("name"), on="name", how="left_anti")
    return promoted.unionByName(missing)


@dataclass
class SyncPlan:
    """The three sets of one sync; ``plan_sync`` returns them already
    materialized, so reading them again costs no source pass."""

    creates: DataFrame
    updates: DataFrame
    deletes: DataFrame

    def counts(self) -> dict[str, int]:
        """Sizes of the three sets, in one aggregate job."""
        sets = {"create": self.creates, "update": self.updates, "delete": self.deletes}
        kinds = reduce(DataFrame.union, [d.select(F.lit(k).alias("k")) for k, d in sets.items()])
        n = kinds.agg(*[F.count_if(F.col("k") == k).alias(k) for k in sets])
        return n.first().asDict()


def plan_sync(
    incoming: DataFrame,
    existing: DataFrame,
    key: str | Sequence[str],
    compare_fields: Sequence[str] | None = None,
    ownership_filter=None,
) -> SyncPlan:
    """Split a sync into create/update/delete DataFrames.

    - create: incoming keys absent from existing;
    - update: present but changed on incoming's fields (asymmetric diff —
      fields only the sink carries don't trigger updates);
    - delete: existing keys absent from incoming, gated by the ownership
      predicate (never delete rows another pipeline owns).

    Runs its jobs at call time: incoming is materialized once, then the
    change set and the deletes from it and from existing as it stands
    during the call, so all three sets are read from that one snapshot.
    """
    incoming = incoming.localCheckpoint(eager=True)
    changed = changed_rows(incoming, existing, key, compare_fields).localCheckpoint(eager=True)
    creates = changed.filter(F.col("_change_kind") == "create").drop("_change_kind")
    updates = changed.filter(F.col("_change_kind") == "update").drop("_change_kind")
    deletes = stale_rows(existing, incoming, on=key, ownership_filter=ownership_filter)
    deletes = deletes.localCheckpoint(eager=True)
    return SyncPlan(creates=creates, updates=updates, deletes=deletes)


def apply_batched(
    df: DataFrame,
    sink: Callable[[list[dict]], None],
    batch_size: int = 500,
) -> None:
    """Apply a sink callback over JSON-safe row batches, partition-local —
    the set-oriented replacement for the reference's one-API-call-per-row
    writes. ``sink`` runs on executors: it must be picklable and talk to
    the external system itself (REST session per partition, etc.)."""
    cols = df.columns

    def run_partition(rows):
        batch: list[dict] = []
        for row in rows:
            batch.append({c: row[c] for c in cols})
            if len(batch) >= batch_size:
                sink(batch)
                batch = []
        if batch:
            sink(batch)

    df.foreachPartition(run_partition)


def apply_sync_ordered(
    plan: SyncPlan,
    sink: Callable[[str, list[dict]], None],
    depth_col: str | None = None,
    batch_size: int = 500,
) -> None:
    """Apply creates (parents first), updates, then deletes (children
    first). With ``depth_col`` the create/delete phases iterate depth
    levels so hierarchical sinks see parents before children — bounded by
    tree depth, not data size (the per-level frames are already computed
    by one plan; iteration only sequences the writes)."""

    def by_kind(kind: str) -> Callable[[list[dict]], None]:
        return lambda batch: sink(kind, batch)

    if depth_col and depth_col in plan.creates.columns:
        depths = [
            r[0]
            for r in plan.creates.select(depth_col).distinct().orderBy(depth_col).collect()
        ]
        for d in depths:
            apply_batched(
                plan.creates.filter(F.col(depth_col) == d), by_kind("create"), batch_size
            )
    else:
        apply_batched(plan.creates, by_kind("create"), batch_size)

    apply_batched(plan.updates, by_kind("update"), batch_size)

    if depth_col and depth_col in plan.deletes.columns:
        depths = [
            r[0]
            for r in plan.deletes.select(depth_col)
            .distinct()
            .orderBy(F.desc(depth_col))
            .collect()
        ]
        for d in depths:
            apply_batched(
                plan.deletes.filter(F.col(depth_col) == d), by_kind("delete"), batch_size
            )
    else:
        apply_batched(plan.deletes, by_kind("delete"), batch_size)


class JsonDirSink:
    """Test/debug sink: each batch lands as one JSON-lines file in a
    directory (unique name per partition+batch). Executor-safe."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, kind: str, batch: list[dict]) -> None:
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(self.path, f"{kind}-{uuid.uuid4().hex}.jsonl")
        with open(fname, "w", encoding="utf-8") as f:
            for row in batch:
                f.write(json.dumps(row, ensure_ascii=False, default=str) + "\n")


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _safe_ident(name: str) -> str:
    """Validate a SQL identifier before interpolation. Validation, not
    quoting: Derby (and most engines) fold unquoted identifiers to upper
    case, so quoting here would stop matching tables the distributed JDBC
    writer created unquoted."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _jdbc_execute(spark, url: str, driver: str | None, *statements: str) -> None:
    """Run control statements on the driver through the JVM's
    DriverManager — the only imperative residue of the JDBC sink (2-3
    statements per sync, independent of row count).

    All statements run in ONE transaction: the upsert's DELETE+INSERT
    pair must be atomic, or a failure between them silently drops every
    updated row."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def apply_sync_jdbc(
    spark,
    plan: SyncPlan,
    url: str,
    table: str,
    key: str,
    driver: str | None = None,
    staging_table: str | None = None,
    column_types: str | None = None,
) -> dict[str, int]:
    """Materialize a SyncPlan into a pipeline-owned JDBC table,
    set-oriented end to end:

    - creates: bulk-appended with the distributed JDBC writer;
    - updates: staged to a scratch table, then one driver-side
      ``DELETE ... WHERE key IN (SELECT key FROM staging)`` + one
      ``INSERT ... SELECT`` — a portable upsert that avoids per-row
      statements and works on engines without MERGE;
    - deletes: key set staged, one ``DELETE ... IN (SELECT ...)``.

    The table must be pipeline-owned: updates replace whole rows (the
    reference's create_or_update semantics, odgovlt.py:407), so sink-side
    columns outside the plan's schema would be lost.

    Returns the applied counts per kind.
    """
    from ..sources.jdbc import write_jdbc_table

    stage = _safe_ident(staging_table or f"{table}_stage")
    table = _safe_ident(table)
    key = _safe_ident(key)
    counts = plan.counts()

    if counts["create"]:
        write_jdbc_table(
            plan.creates, url, table, mode="append", driver=driver,
            column_types=column_types,
        )
    if counts["update"]:
        cols = ", ".join(_safe_ident(c) for c in plan.updates.columns)
        write_jdbc_table(
            plan.updates, url, stage, mode="overwrite", driver=driver,
            column_types=column_types,
        )
        _jdbc_execute(
            spark, url, driver,
            f"DELETE FROM {table} WHERE {key} IN (SELECT {key} FROM {stage})",
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
        )
    if counts["delete"]:
        write_jdbc_table(
            plan.deletes.select(key), url, stage, mode="overwrite", driver=driver,
        )
        _jdbc_execute(
            spark, url, driver,
            f"DELETE FROM {table} WHERE {key} IN (SELECT {key} FROM {stage})",
        )
    return counts


def export_with_observed_metrics(df, path: str, metrics: dict | None = None):
    """Write ``df`` as parquet while collecting pipeline metrics IN THE
    SAME JOB via ``DataFrame.observe`` — the zero-extra-pass health
    check every production export wants. A naive pipeline runs the
    export and then a second aggregate scan for row counts / null rates;
    ``observe`` piggybacks the aggregates on the write job's own pass,
    so a 100 TB export pays nothing for its own metrics.

    ``metrics``: name -> aggregate Column over df's columns (defaults to
    a row count). Returns the observed metrics row as a dict after the
    write completes. Reference analog: the harvest loop counts imported
    objects as a side effect of importing them (odgovlt.py:355-367) —
    same single-pass idea, set-oriented.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = metrics or {"rows": F.count(F.lit(1))}
    obs = Observation("export_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
