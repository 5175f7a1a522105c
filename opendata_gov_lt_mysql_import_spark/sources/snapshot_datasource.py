"""Spark-native access to snapshot tables: a Python DataSource (the
Spark 4 ``pyspark.sql.datasource`` API) so versioned reads compose with
the normal reader surface —

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("snapshot").option("path", t) \
         .option("version", 2).load()

and with SQL via :func:`register_snapshot_view` (a temp view over a
fresh load). ``CREATE TABLE ... USING snapshot`` DDL parses and stores
the table, but Spark 4.1.2 does NOT replay catalog options/location
into python-datasource READS (the reader receives empty options and
must fail) — a framework gap pinned by the catalog-options canary test;
when an upgrade fixes it, the DDL route lights up unchanged.

The version is resolved ONCE per data source instance (schema and file
list always come from the same manifest — a concurrent commit between
planning and execution cannot mix versions). The reader maps one input
partition per manifest data file, yields **pyarrow RecordBatches** (the
Arrow fast path of the DataSource API — no per-row Python) under the
manifest's DECLARED schema, so files from older commits that lack
later-added columns null-fill and int32→int64 drifts upcast, exactly
like :func:`..sources.snapshots.read_snapshot`.

Filter pushdown prunes parquet row groups via pyarrow min/max stats.
IMPORTANT CONTRACT: a filter accepted by ``pushFilters`` is REMOVED
from Spark's post-scan evaluation, so pushdown must be exact — and
IEEE comparisons in pyarrow disagree with Spark on NaN (Spark orders
NaN greater than everything and NaN = NaN true; arrow drops it), so
filters touching float/double columns are never accepted. Because a
reader that implements ``pushFilters`` hard-fails when
``spark.sql.python.filterPushdown.enabled`` is false, the repo's
session factory (session.py) sets that conf; sessions built elsewhere
must do the same to use this source.

Beyond arrow row-group pruning, ``partitions()`` performs manifest-level
FILE skipping: per-file min/max stats recorded at commit time prove
whole files irrelevant to a pushed conjunct, so a skipped file's footer
is never even opened — the tier that matters most at large file counts.

KNOWN SPARK LIFECYCLE HAZARD (4.1.2, framework-level): the Python
DataSource scan is cached per loaded DataFrame and re-built only for
queries that push filters — a FILTERLESS query on a previously-filtered
DataFrame object reuses the previous query's scan (stale filters and
all). This hits ANY pushFilters-implementing source, including the
stock example in the pyspark docs (pinned by
tests/test_snapshots.py::test_spark_scan_reuse_hazard). Use
:func:`load_snapshot_df` (fresh load per call) instead of holding one
``load()`` result across differently-filtered queries; the primary
``read_snapshot`` path (JVM parquet reader) is unaffected.

This is the interop/SQL surface; for raw scan throughput the primary
path remains ``read_snapshot``, which hands the JVM parquet reader the
explicit file list (whole-stage codegen, no Python in the loop). Same
manifest resolution (``snapshots.resolve_snapshot``), two access tiers
— mirroring how real table formats expose both a native reader and a
catalog-integrated one.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .snapshots import (
    _added_files,
    _file_footer,
    _file_may_match,
    _txn_landed,
    current_version,
    publish_new_files,
    resolve_snapshot,
)


def load_snapshot_df(spark, table_dir: str, version: int | None = None):
    """Sanctioned accessor for the DataSource tier: a FRESH
    ``format("snapshot").load()`` per call, so every query plans its
    own scan — see the module docstring's Spark scan-reuse hazard.
    Registers the source on first use."""
    spark.dataSource.register(SnapshotDataSource)
    r = spark.read.format("snapshot").option("path", table_dir)
    if version is not None:
        r = r.option("version", int(version))
    return r.load()


def register_snapshot_view(
    spark, name: str, table_dir: str, version: int | None = None
) -> None:
    """The supported SQL surface: a temp view over a fresh DataSource
    load — ``SELECT ... FROM <name>`` with pushdown + file skipping.
    Re-register (cheap) to move to a newer version; each registration
    pins the version resolved at that moment."""
    load_snapshot_df(spark, table_dir, version).createOrReplaceTempView(name)


def _local_path(p: str) -> str:
    """The SQL surface (CREATE TABLE ... USING snapshot OPTIONS (path
    '/x')) hands the path through as a ``file:`` URI while the reader
    API passes it verbatim — normalize both to a filesystem path."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        parsed = urlparse(p)
        return unquote(parsed.path) or p[5:]
    return p


class SnapshotDataSource(DataSource):
    """``format("snapshot")`` — options: ``path`` (table dir, required),
    ``version`` (int, default latest)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _table_dir(self) -> str:
        table_dir = self.options.get("path")
        if not table_dir:
            raise ValueError(
                "snapshot source requires option('path', ...) — note that "
                "Spark 4.1.2 does NOT replay CREATE TABLE ... USING "
                "snapshot OPTIONS/LOCATION into python-datasource reads "
                "(empty options reach the reader); use "
                "register_snapshot_view() for the SQL surface"
            )
        return _local_path(table_dir)

    def _resolved(self) -> dict:
        if getattr(self, "_m", None) is None:
            v = self.options.get("version")
            self._m = resolve_snapshot(
                self._table_dir(), None if v is None else int(v)
            )
        return self._m

    def schema(self) -> StructType:
        return self._resolved()["_struct"]

    def reader(self, schema: StructType) -> "SnapshotReader":
        m = self._resolved()
        return SnapshotReader(
            m["_abs_files"], schema, m["files"], m.get("stats", {})
        )

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        return SnapshotStreamReader(self._table_dir(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> "SnapshotWriter":
        return SnapshotWriter(self._table_dir(), schema, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "SnapshotStreamWriter":
        return SnapshotStreamWriter(
            self._table_dir(), schema, self.options.get("txnAppId")
        )


def _to_arrow_filter(f, float_cols):
    """Translate a pushed Spark filter to a pyarrow dataset expression;
    None = refuse (Spark then keeps evaluating it itself). Refusal is
    the only safe answer for anything whose arrow semantics could
    differ — accepted filters are NOT re-checked by Spark.

    ``Not(child)`` recurses: Spark's three-valued NOT maps exactly onto
    arrow's (null child → null → row dropped on both engines), so a
    negation is pushable iff its child is. ``In`` is pushable unless
    the value set contains NULL (SQL ``x IN (1, NULL)`` drops NULL x;
    arrow's null-matching would keep it). Float/double columns are
    refused everywhere, including under Not — NaN ordering differs."""
    import pyarrow.dataset as pads

    if isinstance(f, Not):
        child = _to_arrow_filter(f.child, float_cols)
        return None if child is None else ~child
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:
        # unknown wrapper shapes; nested column paths unhandled
        return None
    if attr[0] in float_cols:
        return None
    col = pads.field(attr[0])
    if isinstance(f, EqualTo):
        return col == f.value
    if isinstance(f, EqualNullSafe):
        # x <=> NULL is IS NULL; x <=> v keeps exactly the x == v rows
        # (the null row is dropped either way: false here, null there)
        return col.is_null() if f.value is None else col == f.value
    if isinstance(f, GreaterThan):
        return col > f.value
    if isinstance(f, GreaterThanOrEqual):
        return col >= f.value
    if isinstance(f, LessThan):
        return col < f.value
    if isinstance(f, LessThanOrEqual):
        return col <= f.value
    if isinstance(f, In):
        # OR-of-equalities, NOT arrow isin: the is_in kernel maps a
        # NULL input to FALSE, which flips to TRUE under Not and keeps
        # rows SQL's 3-valued NOT IN drops; (col==v1)|(col==v2) yields
        # NULL for NULL input on both engines. Long lists refused (the
        # expression tree is per-value; Spark evaluates those itself).
        if any(v is None for v in f.value) or not f.value or len(f.value) > 64:
            return None
        expr = col == f.value[0]
        for v in f.value[1:]:
            expr = expr | (col == v)
        return expr
    if isinstance(f, IsNull):
        return col.is_null()
    if isinstance(f, IsNotNull):
        return ~col.is_null()
    return None


class SnapshotFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SnapshotReader(DataSourceReader):
    def __init__(
        self,
        files: list[str],
        schema: StructType,
        rel_files: list[str] | None = None,
        stats: dict | None = None,
    ):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._files = files
        self._arrow_schema = to_arrow_schema(schema)
        # per-file manifest stats for file-level skipping (keyed by the
        # manifest-relative path, parallel to `files`)
        self._rel_files = rel_files or [None] * len(files)
        self._stats = stats or {}
        self._skip_filters: list = []
        # NaN ordering/equality differs between Spark and arrow — never
        # accept pushdown on floating-point columns
        self._float_cols = {
            f.name
            for f in schema.fields
            if f.dataType.typeName() in ("float", "double")
        }
        self._arrow_filter = None

    def pushFilters(self, filters):
        # defensive reset: Spark re-runs pushdown on a freshly unpickled
        # reader per filtered query, but never carry state across calls
        self._skip_filters = []
        self._arrow_filter = None
        accepted = []
        for f in filters:
            # every conjunct also drives manifest-stats FILE skipping in
            # partitions() — sound even for filters refused below, since
            # refusal only returns row-level evaluation to Spark while
            # skipping needs just per-file impossibility proofs
            self._skip_filters.append(f)
            # anything the translator can't positively map (unknown
            # wrapper shapes, float columns, NULL-containing IN lists)
            # is refused, never raised on — a pushFilters error fails
            # the whole read
            try:
                expr = _to_arrow_filter(f, self._float_cols)
            except Exception:  # noqa: BLE001 — pushdown is best-effort
                expr = None
            if expr is None:
                yield f  # refused: Spark keeps evaluating it
            else:
                accepted.append(expr)
        if accepted:
            combined = accepted[0]
            for e in accepted[1:]:
                combined = combined & e
            self._arrow_filter = combined

    def partitions(self):
        # manifest-level file skipping: a file whose min/max stats prove
        # a pushed conjunct impossible never becomes a partition (the
        # tier above arrow row-group pruning; at large file counts the
        # skipped file's footer is never even opened)
        out = []
        for abs_path, rel in zip(self._files, self._rel_files):
            stats = self._stats.get(rel) if rel else None
            if all(
                _file_may_match(f, stats) for f in self._skip_filters
            ):
                out.append(SnapshotFilePartition(abs_path))
        if not out:
            # Spark requires >= 1 partition; an empty scan of the first
            # file under the declared schema yields zero rows cheaply
            return [SnapshotFilePartition(self._files[0])] if self._files else []
        return out

    def read(self, partition: SnapshotFilePartition):
        yield from _read_arrow_file(
            partition.path, self._arrow_schema, self._arrow_filter
        )


def _read_arrow_file(path: str, arrow_schema, arrow_filter=None):
    """One data file's Arrow batches under the DECLARED schema, not the
    file's own: older files null-fill added columns and upcast
    compatible drifts, matching read_snapshot. Row groups whose min/max
    exclude ``arrow_filter`` never decode."""
    import pyarrow.dataset as pads

    ds = pads.dataset(path, format="parquet", schema=arrow_schema)
    yield from ds.scanner(
        columns=arrow_schema.names, filter=arrow_filter
    ).to_batches()


class SnapshotStreamReader(DataSourceStreamReader):
    """Streaming consumption of an append-only snapshot table —
    ``spark.readStream.format("snapshot")`` (the Delta-streaming-source
    analog over this format). Offsets are version numbers; each
    micro-batch reads exactly the files ADDED between the checkpointed
    version and the current one (manifest set-diff, one partition per
    new file, Arrow RecordBatch reads). The batch twin is
    :func:`..sources.snapshots.read_snapshot_changes`.

    The first batch from a fresh checkpoint loads the table's CURRENT
    files (initial backfill); from then on lineage must be append-only:
    an overwrite (or a vacuumed manifest) inside a batch range raises,
    because a file diff across an overwrite does not mean added rows.
    Rows ride under the schema pinned at stream start — later appends
    with drifted files null-fill/upcast exactly like the batch reader."""

    def __init__(self, table_dir: str, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._table_dir = table_dir
        self._arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        v = current_version(self._table_dir)
        return {"version": -1 if v is None else v}

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        if ev <= sv:
            return []
        target = resolve_snapshot(self._table_dir, ev)
        added = (
            target["files"]  # initial backfill: current state
            if sv < 0
            else _added_files(
                self._table_dir, resolve_snapshot(self._table_dir, sv), target
            )
        )
        return [
            SnapshotFilePartition(os.path.join(self._table_dir, rel))
            for rel in added
        ]

    def read(self, partition: SnapshotFilePartition):
        yield from _read_arrow_file(partition.path, self._arrow_schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable versions; nothing to acknowledge


@dataclass
class SnapshotFileMessage(WriterCommitMessage):
    """One written data file (or None for an empty partition)."""

    rel_path: str | None = None
    stats: dict = field(default_factory=dict)
    n_rows: int = 0


def _write_arrow_file(iterator, table_dir: str, rel: str) -> SnapshotFileMessage:
    """Stream one write task's Arrow batches into the single parquet
    file ``rel`` — created, with its directory, only once a first batch
    arrives, so an empty partition leaves nothing behind — and describe
    it as a commit message."""
    import pyarrow.parquet as pq

    abs_path = os.path.join(table_dir, rel)
    writer = None
    try:
        for batch in iterator:
            if writer is None:
                os.makedirs(os.path.dirname(abs_path), exist_ok=True)
                writer = pq.ParquetWriter(abs_path, batch.schema)
            writer.write_batch(batch)
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return SnapshotFileMessage()
    return SnapshotFileMessage(rel, *_file_footer(abs_path))


def _written_files(messages) -> tuple[list, dict, dict]:
    """The (files, stats, rows) that a write job's commit messages
    describe, in the shape ``publish_new_files`` takes."""
    done = [m for m in messages if m and m.rel_path]
    return (
        sorted(m.rel_path for m in done),
        {m.rel_path: m.stats for m in done},
        {m.rel_path: m.n_rows for m in done},
    )


class SnapshotWriter(DataSourceArrowWriter):
    """``df.write.format("snapshot").mode("append"|"overwrite")
    .option("path", t).save()`` — the DataFrame-writer tier over the
    same manifests as :func:`..sources.snapshots.commit_snapshot`.

    Executor tasks stream their Arrow batches straight into one parquet
    file each inside a fresh ``data/<commit>/`` dir (no driver
    materialization) and send back (path, min/max stats) as the commit
    message; the driver-side ``commit`` publishes the manifest through
    the shared optimistic-retry core, so DataFrame-API writes get the
    same atomicity, schema-union appends, stats-powered file skipping,
    and race semantics as the functional API. ``abort`` removes the
    partially-written commit dir (vacuum would reclaim it anyway)."""

    def __init__(self, table_dir: str, schema: StructType, overwrite: bool):
        self._table_dir = table_dir
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        self._commit_id = uuid.uuid4().hex  # shared by all write tasks

    def write(self, iterator):
        from pyspark import TaskContext

        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else 0
        rel = os.path.join(
            "data",
            self._commit_id,
            f"part-{part:05d}-{uuid.uuid4().hex}.parquet",
        )
        return _write_arrow_file(iterator, self._table_dir, rel)

    def commit(self, messages):
        files, stats, rows = _written_files(messages)
        publish_new_files(
            self._table_dir,
            files,
            stats,
            self._schema,
            self._mode,
            tag=self._commit_id,
            new_rows=rows,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(
            os.path.join(self._table_dir, "data", self._commit_id),
            ignore_errors=True,
        )


class SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("snapshot")`` — one atomic append version
    per micro-batch, no foreachBatch glue needed.

    Exactly-once: pass ``.option("txnAppId", "<stable job name>")`` and
    each micro-batch commits with txn id ``<app>-<batchId>`` recorded in
    the manifest — a batch replayed after a crash-restart is recognized
    and skipped (its re-written files become vacuum-reclaimable
    orphans), exactly the Delta txnAppId/txnVersion idiom. Without the
    option, commits are still atomic per batch but replays append twice
    (at-least-once); the app id must be stable across restarts, which
    is why it cannot default to a generated uuid."""

    def __init__(self, table_dir: str, schema: StructType, txn_app: str | None):
        self._table_dir = table_dir
        self._schema = schema
        self._txn_app = txn_app

    def write(self, iterator):
        # one single-file commit dir per task: micro-batch tasks cannot
        # coordinate a shared dir name (the writer pickles per batch),
        # and manifests list files, not dirs, so the layout is free
        rel = os.path.join("data", uuid.uuid4().hex, "part-00000.parquet")
        return _write_arrow_file(iterator, self._table_dir, rel)

    def commit(self, messages, batchId: int) -> None:
        txn_id = f"{self._txn_app}-{batchId}" if self._txn_app else None
        if txn_id is not None and _txn_landed(self._table_dir, txn_id) is not None:
            return  # replayed batch already landed — exactly-once
        files, stats, rows = _written_files(messages)
        publish_new_files(
            self._table_dir,
            files,
            stats,
            self._schema,
            "append",
            txn_id=txn_id,
            tag=f"b{batchId}",
            new_rows=rows,
        )

    def abort(self, messages, batchId: int) -> None:
        import shutil

        for m in messages:
            if m and m.rel_path:
                shutil.rmtree(
                    os.path.dirname(
                        os.path.join(self._table_dir, m.rel_path)
                    ),
                    ignore_errors=True,
                )
