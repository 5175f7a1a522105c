"""Versioned snapshot tables: atomic commits + time travel over plain
parquet, dependency-free.

A long-lived training corpus needs what Delta/Iceberg provide — readers
never see half-written data, exports are reproducible ("train run X
used table version 7"), and bad commits roll back by reading the prior
version. (Nearest reference analog: the harvest queue stages immutable
JSON objects per gather run and imports only committed ones,
odgovlt.py:355-367 — immutable staged data + an explicit record of what
a run consists of, here generalized to versioned file manifests.) Neither format's library is in this container, so this module
implements the core mechanism directly: **copy-on-write manifests over
immutable data files**.

Layout:

    table_dir/
      data/<commit-uuid>/part-*.parquet   immutable once written
      _manifests/v3.json                  file list + schema + parent

A commit (1) writes new data files into a fresh ``data/<uuid>/`` dir,
(2) builds a manifest listing the EXACT file paths of the new version
(append = parent's files + new files; overwrite = new files only), and
(3) publishes it through an atomic put-if-absent primitive
(:class:`PublishPrimitive`) — the manifest either exists completely or
not at all, so a reader enumerating versions never observes a torn
commit. Data files are never mutated or deleted by
commits; vacuuming unreferenced files is a separate maintenance pass.

Readers load the manifest (latest or a pinned ``version``) and hand
Spark the explicit file list with the recorded schema — no directory
listing, no footer merge, no visibility of in-flight writer dirs.

Each rule of the format has one owner, shared by every writer and
reader (the DataSource tier in ``snapshot_datasource`` included):

- data-file write + per-file stats/row counts: :func:`_write_commit_files`
  (DataFrame commits); ``snapshot_datasource._write_arrow_file`` (Arrow
  tasks of the DataSource writers);
- manifest layout and the atomic publish: :func:`_put_manifest`; the
  parent files a new version carries: :func:`_stacked`;
- append/overwrite optimistic retry: :func:`publish_new_files`;
  single-attempt rewrites (merge, delete): :func:`_commit_rewrite`;
- append schema union: :func:`_merged_append_schema`;
- the ``(column, op, value)`` filter language: ``_FILTER_OPS``, checked
  by :func:`_parse_filters`, tested against file stats by
  :func:`_file_may_match`, applied to rows by :func:`_row_predicate`;
- append-lineage check and added-file diff: :func:`_added_files`;
- exactly-once txn check: :func:`_txn_landed`.

Scale notes: one manifest is a JSON file listing file paths — fine to
millions of files per table at 100 TB (a few hundred MB of driver-side
JSON at the extreme; real table formats shard manifests, noted here as
the growth path; tests pin the 10k-file point). The data write itself
is whatever parallelism the DataFrame carries; the commit-side work is
O(#files) strings.

Metadata-store abstraction: the atomic first-wins publish is an
injectable :class:`PublishPrimitive`. The default
(:class:`PosixLinkPublish`) relies on POSIX ``os.link`` semantics
(local disk, NFS, most cluster filesystems). Object stores have no
link(2) — there the primitive swaps for a conditional put (S3
If-None-Match, GCS x-goog-if-generation-match:0) or a small
coordination table, exactly as Delta's LogStore abstracts it
(:class:`MockConditionalPutPublish` exercises that contract in tests);
everything above the publish call is storage-agnostic.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import operator
import os
import re
import threading
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from .local import local_frame

_MANIFEST_DIR = "_manifests"


class PublishPrimitive:
    """The ONE storage-specific operation in the commit protocol: put
    ``payload`` at ``path`` iff nothing exists there, atomically —
    first writer wins, losers see False. Everything above this call
    (manifest building, optimistic retry, append re-stacking) is
    storage-agnostic, exactly as Delta's LogStore isolates its
    put-if-absent. Swap implementations per storage system:
    POSIX link(2) here; S3 PUT If-None-Match / GCS
    x-goog-if-generation-match:0 / a DynamoDB-style coordination row on
    object stores (mocked below for protocol tests)."""

    def put_if_absent(self, path: str, payload: str, tag: str) -> bool:
        raise NotImplementedError


class PosixLinkPublish(PublishPrimitive):
    """Default: write a tmp file, ``os.link`` it into place. link(2)
    fails with EEXIST where rename(2) would silently replace a
    concurrent writer's manifest — atomic first-wins on local disk,
    NFS, and most cluster filesystems."""

    def put_if_absent(self, path: str, payload: str, tag: str) -> bool:
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".{os.path.basename(path)}.{tag}.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)


class MockConditionalPutPublish(PublishPrimitive):
    """Object-store stand-in for protocol tests: emulates a conditional
    put (compare-and-set on key absence) with a process-wide mutex as
    the store's internal atomicity, then materializes the winner's
    object to the local path so readers work unchanged. No link(2), no
    tmp-file protocol — exercising that the retry loop above depends
    ONLY on put-if-absent semantics, not on POSIX specifics.

    All writers to a table must share ONE primitive (the same contract
    real LogStores impose: Delta on S3 requires every writer to use the
    same coordination store). The filesystem existence check below is a
    convenience for probing pre-existing tables, NOT a mixed-writer
    serialization guarantee — a link(2) writer racing this mock could
    land between the check and the rename."""

    _mutex = threading.Lock()

    def __init__(self) -> None:
        self.store: dict[str, str] = {}
        self.put_attempts = 0
        self.lost_races = 0

    def put_if_absent(self, path: str, payload: str, tag: str) -> bool:
        with self._mutex:
            self.put_attempts += 1
            if path in self.store or os.path.exists(path):
                self.lost_races += 1
                return False
            self.store[path] = payload
            # materialize inside the CAS window via atomic rename so a
            # concurrent READER never observes a torn manifest
            tmp = path + f".{tag}.castmp"
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.rename(tmp, path)
            return True


DEFAULT_PUBLISH: PublishPrimitive = PosixLinkPublish()


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version}.json")


def current_version(table_dir: str) -> int | None:
    """Latest committed version, or None for an empty/absent table."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _load_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


# ``_put_manifest`` writes "version", "parent" and "mode" first
_MANIFEST_HEAD = re.compile(
    r'\{"version": -?\d+, "parent": (?:-?\d+|null), "mode": "(\w+)"'
)


def _manifest_mode(table_dir: str, version: int) -> str:
    """The ``mode`` of one version, read from the first bytes of its
    manifest without parsing the file list and per-file stats; a
    manifest laid out otherwise is parsed in full."""
    with open(_manifest_path(table_dir, version)) as fh:
        head = _MANIFEST_HEAD.match(fh.read(128))
    return head.group(1) if head else _load_manifest(table_dir, version)["mode"]


# integer/float widening chains — an append whose column type sits
# EARLIER in the chain than the parent's declared type is fine (the
# declared type stays the parent's, readers upcast the narrower files);
# a LATER type widens the declared type; anything off-chain is drift.
_WIDENING = {
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 10, "double": 11,
}


def _nullability_merged(pt, nt):
    """Merged type when ``pt``/``nt`` are structurally equal up to
    nullability flags (array containsNull / map valueContainsNull /
    nested struct field nullability) — the flags OR together; None
    when the types genuinely differ. Needed because readers declare
    all-nullable schemas (see resolve_snapshot), so a compaction
    (read → overwrite) records permissive container flags and a later
    append of the SAME logical type with strict flags must not read
    as schema drift (found by the round-15 multi-fold lifecycle test
    on the gram table's array<bigint> column)."""
    if pt == nt:
        return pt
    if isinstance(pt, ArrayType) and isinstance(nt, ArrayType):
        el = _nullability_merged(pt.elementType, nt.elementType)
        if el is None:
            return None
        return ArrayType(el, pt.containsNull or nt.containsNull)
    if isinstance(pt, MapType) and isinstance(nt, MapType):
        k = _nullability_merged(pt.keyType, nt.keyType)
        v = _nullability_merged(pt.valueType, nt.valueType)
        if k is None or v is None:
            return None
        return MapType(k, v, pt.valueContainsNull or nt.valueContainsNull)
    if isinstance(pt, StructType) and isinstance(nt, StructType):
        if [f.name for f in pt.fields] != [f.name for f in nt.fields]:
            return None
        fs = []
        for a, b in zip(pt.fields, nt.fields):
            m = _nullability_merged(a.dataType, b.dataType)
            if m is None:
                return None
            fs.append(StructField(a.name, m, a.nullable or b.nullable))
        return StructType(fs)
    return None


def _merged_append_schema(parent_struct: StructType, new_struct: StructType):
    """Union of parent + new schemas for an append commit, keeping the
    widest compatible type per column; raises on incompatible drift.

    Without this, an append missing a parent column silently DROPPED
    that column from every read of the new version (the manifest only
    recorded the incoming df's schema), and a narrowed type (parent
    bigint files declared int) broke the vectorized reader."""
    new_by_name = {f.name: f for f in new_struct.fields}
    fields = []
    for pf in parent_struct.fields:
        nf = new_by_name.pop(pf.name, None)
        if nf is None:
            fields.append(pf)  # column absent in the append → null-fills
            continue
        if nf.dataType == pf.dataType:
            fields.append(pf)
            continue
        merged = _nullability_merged(pf.dataType, nf.dataType)
        if merged is not None:
            fields.append(
                StructField(
                    pf.name, merged, pf.nullable or nf.nullable, pf.metadata
                )
            )
            continue
        pt, nt = pf.dataType.typeName(), nf.dataType.typeName()
        pw, nw = _WIDENING.get(pt), _WIDENING.get(nt)
        if pw is None or nw is None or (pw >= 10) != (nw >= 10):
            raise ValueError(
                f"append schema drift on column {pf.name!r}: "
                f"{pt} -> {nt} is not a compatible widening"
            )
        fields.append(pf if pw >= nw else nf)
    fields.extend(new_by_name[f.name] for f in new_struct.fields
                  if f.name in new_by_name)
    return StructType(fields)


def _norm_stat_value(v):
    """Normalize a stats/filter value to a JSON-safe totally-ordered
    scalar: datetimes → UTC epoch micros, dates → ordinal day. Both the
    write-side stats and the read-side filter values go through this,
    so comparisons are always like-typed."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, dt.date):
        return v.toordinal()
    return v


def _file_footer(abs_path: str) -> tuple[dict, int]:
    """(column stats, row count) from one read of a parquet footer.

    The stats drive manifest-level file skipping: {col: [min, max,
    has_nulls]} over the file's row groups, only for stats-safe scalar
    types — strings are excluded (parquet footer min/max may be
    truncated), floats are excluded (NaN ordering differs between
    engines), nested paths have no scalar order. A column absent from
    the dict means 'unknown — never skip on it'. The row count is
    recorded per file in the manifest so table cardinality becomes
    MANIFEST ARITHMETIC (:func:`snapshot_row_count`): at 100 TB, "how
    big is this corpus" must never cost a scan (Delta's numRecords /
    Iceberg's record_count play the same role)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # nested
                continue
            st = col.statistics
            if (
                st is None
                or not st.has_min_max
                or str(st.physical_type) in ("BYTE_ARRAY", "FLOAT", "DOUBLE")
            ):
                out[name] = None  # poisoned: some row group lacks stats
                continue
            if out.get(name, ...) is None:
                continue
            lo, hi = _norm_stat_value(st.min), _norm_stat_value(st.max)
            nulls = bool(st.null_count) if st.has_null_count else True
            if name not in out:
                out[name] = [lo, hi, nulls]
            else:
                cur = out[name]
                cur[0] = min(cur[0], lo)
                cur[1] = max(cur[1], hi)
                cur[2] = cur[2] or nulls
    stats = {k: v for k, v in out.items() if v is not None}
    return stats, int(md.num_rows)


def snapshot_row_count(table_dir: str, version: int | None = None) -> int | None:
    """Exact row count of a table version from manifest arithmetic
    alone — no file opened, no Spark job. Returns None when any live
    file predates row-count recording (a pre-upgrade manifest), so
    callers can fall back to a scan instead of trusting a partial
    sum."""
    m = resolve_snapshot(table_dir, version)
    rows = m.get("file_rows", {})
    if any(f not in rows for f in m["files"]):
        return None
    return sum(rows[f] for f in m["files"])


def commit_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    max_retries: int = 5,
    cluster_by: list[str] | None = None,
    target_files: int | None = None,
    _txn_id: str | None = None,
    publish_primitive: PublishPrimitive | None = None,
) -> int:
    """Write ``df`` as a new table version and atomically publish it.

    ``mode='append'`` stacks onto the parent version's file list and
    records the UNION of the parent and incoming schemas (widest
    compatible type per column; incompatible drift raises);
    ``mode='overwrite'`` starts the version from only the new files
    under the incoming schema. Returns the committed version number.
    Readers running concurrently keep seeing the parent version until
    the publish lands.

    Concurrency: publish is an atomic first-wins ``os.link`` (where
    ``rename`` would silently replace a concurrent writer's manifest).
    On losing the race this writer RETRIES optimistically — re-resolves
    the new parent, rebuilds the manifest (append re-stacks onto the
    winner's file list), and re-publishes, up to ``max_retries`` times.
    The data files are immutable and written once, so retries only
    redo O(#files) driver-side strings. Mirrors the reference harvest
    queue's per-object idempotent restart (odgovlt.py:355-367).

    ``cluster_by``: range-partition + sort the data on these columns
    before writing, so each file owns a DISJOINT value range and the
    manifest min/max stats actually prune (unsorted writes spread every
    value across every file, making file skipping a no-op) — the
    Z-order-lite knob of real table formats. ``target_files`` caps the
    written file count (clustered writes default to the current shuffle
    parallelism)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if cluster_by:
        cols = [df[c] for c in cluster_by]
        df = (
            df.repartitionByRange(target_files, *cols)
            if target_files
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    elif target_files:
        df = df.coalesce(target_files)
    commit_id, new_files, new_stats, new_rows = _write_commit_files(
        df, table_dir
    )
    return publish_new_files(
        table_dir, new_files, new_stats, df.schema, mode,
        max_retries=max_retries, txn_id=_txn_id, tag=commit_id,
        publish_primitive=publish_primitive, new_rows=new_rows,
    )


def _write_commit_files(
    df: DataFrame, table_dir: str
) -> tuple[str, list, dict, dict]:
    """Write df into a fresh data/<uuid>/ dir; return (commit_id,
    relative file list, per-file stats, per-file row counts). The stats
    power manifest-level file skipping in every reader; collecting them
    is O(footers)."""
    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(table_dir, "data", commit_id)
    df.write.mode("error").parquet(data_dir)
    rels = sorted(
        os.path.join("data", commit_id, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    footers = {rel: _file_footer(os.path.join(table_dir, rel)) for rel in rels}
    stats = {rel: f[0] for rel, f in footers.items()}
    rows = {rel: f[1] for rel, f in footers.items()}
    return commit_id, rels, stats, rows


def _stacked(
    parent: dict, carried: list[str], new: tuple[list, dict, dict]
) -> tuple[list, dict, dict]:
    """(files, stats, rows) of a version that keeps the ``carried``
    files of manifest ``parent`` by reference, with their stats and row
    counts, followed by the ``new`` (files, stats, rows) just written."""
    files, stats, rows = new
    keep = set(carried)

    def carry(key: str) -> dict:
        return {f: v for f, v in parent.get(key, {}).items() if f in keep}

    return (
        [*carried, *files],
        {**carry("stats"), **stats},
        {**carry("file_rows"), **rows},
    )


def _put_manifest(
    table_dir: str,
    parent: int | None,
    mode: str,
    schema_json: str,
    written: tuple[list, dict, dict],
    tag: str,
    txn_id: str | None = None,
    publish_primitive: PublishPrimitive | None = None,
) -> int | None:
    """Publish the manifest of version ``parent + 1`` (0 for a new
    table) listing ``written`` = (files, stats, rows), atomically and
    first-wins. Returns the version, or None when a concurrent writer
    already published it."""
    files, stats, rows = written
    version = 0 if parent is None else parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "schema": schema_json,
        "files": files,
        "stats": stats,
        "file_rows": rows,
    }
    if txn_id is not None:
        manifest["txn_id"] = txn_id
    published = (publish_primitive or DEFAULT_PUBLISH).put_if_absent(
        _manifest_path(table_dir, version), json.dumps(manifest), tag
    )
    return version if published else None


def publish_new_files(
    table_dir: str,
    new_files: list[str],
    new_stats: dict,
    schema: StructType,
    mode: str,
    max_retries: int = 5,
    txn_id: str | None = None,
    tag: str = "w",
    publish_primitive: PublishPrimitive | None = None,
    new_rows: dict | None = None,
) -> int:
    """Publish already-written data files as a new version — the shared
    optimistic-retry commit core behind :func:`commit_snapshot` and the
    DataFrame-writer API (snapshot_datasource.SnapshotWriter). Append
    re-stacks onto whatever parent wins a race; see commit_snapshot for
    the full semantics. ``publish_primitive`` injects the storage
    put-if-absent (default POSIX link; see :class:`PublishPrimitive`)."""
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    new = (list(new_files), dict(new_stats), dict(new_rows or {}))
    for _ in range(max_retries + 1):
        parent = current_version(table_dir)
        written, schema_json = new, schema.json()
        if mode == "append" and parent is not None:
            pm = _load_manifest(table_dir, parent)
            written = _stacked(pm, pm["files"], new)
            schema_json = _merged_append_schema(
                StructType.fromJson(json.loads(pm["schema"])), schema
            ).json()
        version = _put_manifest(
            table_dir, parent, mode, schema_json, written, tag,
            txn_id, publish_primitive,
        )
        if version is not None:
            return version
    raise RuntimeError(
        f"snapshot publish lost the race {max_retries + 1} times "
        f"in {table_dir} — pathological contention, coordinate writers"
    )


def commit_snapshot_idempotent(
    df: DataFrame,
    table_dir: str,
    txn_id: str,
    mode: str = "append",
    **kwargs,
) -> int:
    """Exactly-once commit for restartable writers (foreachBatch):
    ``txn_id`` (e.g. ``f"{query_id}-{batch_id}"``) is recorded in the
    manifest; if the CURRENT version already carries it, the commit is
    a no-op returning that version — a micro-batch replayed after a
    sink crash lands once (see :func:`_txn_landed`). The txn_id rides
    INSIDE the atomically-published manifest, so there is no
    publish-then-stamp window for a crash to lose the marker in."""
    landed = _txn_landed(table_dir, txn_id)
    if landed is not None:
        return landed
    return commit_snapshot(df, table_dir, mode=mode, _txn_id=txn_id, **kwargs)


def _txn_landed(table_dir: str, txn_id: str) -> int | None:
    """The current version when its manifest already carries
    ``txn_id``, else None — the exactly-once check shared by
    :func:`commit_snapshot_idempotent` and the snapshot stream writer.
    Current-version-only by design: structured streaming replays only
    the LAST unacknowledged batch, so deeper history scans would cost
    O(versions) for nothing."""
    v = current_version(table_dir)
    if v is not None and _load_manifest(table_dir, v).get("txn_id") == txn_id:
        return v
    return None


def resolve_snapshot(table_dir: str, version: int | None = None) -> dict:
    """Pin one version (latest when None) and return its manifest with
    ``_struct`` (decoded StructType) and ``_abs_files`` (absolute paths)
    added — the single resolution step every reader tier shares, so the
    schema and the file list always come from the SAME version."""
    v = current_version(table_dir) if version is None else int(version)
    if v is None or not os.path.exists(_manifest_path(table_dir, v)):
        raise FileNotFoundError(f"no snapshot version {version} in {table_dir}")
    m = _load_manifest(table_dir, v)
    raw = StructType.fromJson(json.loads(m["schema"]))
    # all-nullable on READ: an append commit that adds a column makes
    # every pre-existing row NULL in it, so no non-nullability recorded
    # at write time survives schema evolution (a non-nullable field here
    # makes Spark's vectorized reader crash on the null-filled batches)
    m["_struct"] = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in raw.fields]
    )
    m["_abs_files"] = [os.path.join(table_dir, f) for f in m["files"]]
    return m


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a table version (latest when ``version`` is None): the
    manifest's explicit file list under its recorded schema — immune to
    in-flight writers and stray files."""
    m = resolve_snapshot(table_dir, version)
    return _read_files(spark, table_dir, m, m["files"])


def _read_files(
    spark: SparkSession, table_dir: str, m: dict, rels: list[str]
) -> DataFrame:
    """The manifest-relative files ``rels`` under resolved manifest
    ``m``'s declared schema (an empty frame when there are none)."""
    if not rels:
        return local_frame(spark, [], m["_struct"])
    return spark.read.schema(m["_struct"]).parquet(
        *(os.path.join(table_dir, f) for f in rels)
    )


def _commit_rewrite(
    table_dir: str,
    m: dict,
    affected: list[str],
    rewritten: DataFrame,
    mode: str,
) -> int:
    """Commit a rewriting transaction (merge/delete): ``rewritten``
    replaces the ``affected`` files of resolved manifest ``m``, every
    other file carries forward by reference, and version m+1 is
    published in ONE attempt. The row work was computed against this
    specific parent, so unlike append/overwrite it cannot re-stack onto
    a concurrent winner: a lost race raises (vacuum reclaims the
    orphaned data dir)."""
    commit_id, *new = _write_commit_files(rewritten, table_dir)
    gone = set(affected)
    carried = [f for f in m["files"] if f not in gone]
    version = _put_manifest(
        table_dir, m["version"], mode, m["schema"],
        _stacked(m, carried, new), commit_id,
    )
    if version is None:
        raise RuntimeError(
            f"concurrent commit beat this transaction to version "
            f"{m['version'] + 1} in {table_dir}; its rewrite is based on "
            f"version {m['version']} — re-run against the new state"
        )
    return version


# merge_snapshot collects up to this many distinct source keys for an
# exact per-file key test; a larger source falls back to its key range
_KEY_SET_CAP = 100_000


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: str | list[str],
) -> int:
    """MERGE (upsert): target rows whose key matches a source row are
    replaced by the source row; unmatched source rows are inserted.
    Publishes a new ``mode='merge'`` version.

    Scale shape: only files whose manifest min/max MAY contain a source
    key are rewritten, so merges into a ``cluster_by(key)`` table touch
    a handful of files while every other file carries forward by
    reference (the copy-on-write granularity of real table formats). On
    a single stats-covered key column a small source (the common upsert
    shape — a daily batch against a big table) collects its distinct
    keys in one pass and each file is tested EXACTLY against its [min,
    max]; a source with more than 100,000 distinct keys falls back to
    the overall key-range overlap; multi-column keys, and keys no file
    has stats on (strings), affect every file without a probe.
    The rewrite is one anti-join (kept = affected ⟕̸ source keys) + a
    union; Spark broadcasts the key side when small. Source columns
    must match the declared schema by name. (Reference analog: the
    harvester's per-object update-or-create against CKAN,
    odgovlt.py:387-407 — here set-oriented and file-granular instead of
    row-at-a-time.)"""
    keys = [on] if isinstance(on, str) else list(on)
    m = resolve_snapshot(table_dir)
    declared = [f.name for f in m["_struct"].fields]
    if sorted(c.lower() for c in source.columns) != sorted(
        c.lower() for c in declared
    ):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} must match "
            f"the declared schema {sorted(declared)}"
        )
    source = source.select(*declared)

    stats = m.get("stats", {})
    if len(keys) != 1 or not any(
        (stats.get(rel) or {}).get(keys[0]) is not None for rel in m["files"]
    ):
        # no file has stats on the key (string keys never do, see
        # _file_footer): no probe can prune, so skip its source pass
        affected = list(m["files"])
    else:
        key = keys[0]
        probe = (
            source.select(key).where(F.col(key).isNotNull()).distinct()
            .limit(_KEY_SET_CAP + 1).collect()
        )
        if len(probe) <= _KEY_SET_CAP:
            key_set = sorted(_norm_stat_value(r[0]) for r in probe)

            def may_hold_key(rel: str) -> bool:
                st = (stats.get(rel) or {}).get(key)
                if st is None:
                    return True
                i = bisect.bisect_left(key_set, st[0])
                return i < len(key_set) and key_set[i] <= st[1]

            affected = [rel for rel in m["files"] if may_hold_key(rel)]
        else:
            lo, hi = source.agg(F.min(key), F.max(key)).first()
            affected = _may_match_files(m, [(key, ">=", lo), (key, "<=", hi)])

    rewritten = source
    if affected:
        old = _read_files(spark, table_dir, m, affected)
        rewritten = old.join(
            source.select(*keys).distinct(), keys, "left_anti"
        ).unionByName(source)
    return _commit_rewrite(table_dir, m, affected, rewritten, "merge")


def delete_snapshot_rows(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
) -> int:
    """DELETE the rows matching ALL ``(column, op, value)`` conjuncts
    (same mini-language as :func:`read_snapshot_pruned`); publishes a
    new ``mode='delete'`` version. Files whose stats prove no row can
    match carry forward BY REFERENCE; only possibly-matching files are
    rewritten without the matching rows."""
    if not filters:
        raise ValueError("refusing to delete with no filters (use overwrite)")
    m = resolve_snapshot(table_dir)
    affected = _may_match_files(m, filters)
    if not affected:
        return m["version"]  # nothing can match; no new version needed
    old = _read_files(spark, table_dir, m, affected)
    survivors = old.filter(~F.coalesce(_row_predicate(filters), F.lit(False)))
    return _commit_rewrite(table_dir, m, affected, survivors, "delete")


# The (column, op, value) conjunct language of read_snapshot_pruned,
# pruned_file_counts and delete_snapshot_rows: per op, the pushed-filter
# class the manifest stats are tested against and the row predicate.
_FILTER_OPS = {
    "=": (EqualTo, operator.eq),
    ">": (GreaterThan, operator.gt),
    ">=": (GreaterThanOrEqual, operator.ge),
    "<": (LessThan, operator.lt),
    "<=": (LessThanOrEqual, operator.le),
    "in": (In, lambda c, v: c.isin(list(v))),
}


def _parse_filters(filters: list[tuple] | None) -> list:
    """The conjuncts as pushed-filter objects for the per-file stats
    test — the one validation of the filter language."""
    parsed = []
    for col, op, value in filters or []:
        if op not in _FILTER_OPS:
            raise ValueError(f"unsupported op {op!r} (use = > >= < <= in)")
        parsed.append(
            _FILTER_OPS[op][0]((col,), tuple(value) if op == "in" else value)
        )
    return parsed


def _row_predicate(filters: list[tuple]) -> Column:
    """The conjunction of (already parsed) ``filters`` as a row-level
    Column."""
    return functools.reduce(
        operator.and_,
        (_FILTER_OPS[op][1](F.col(col), v) for col, op, v in filters),
    )


def _file_may_match(f, stats) -> bool:
    """Conservative file-skip test: False ONLY when the file's manifest
    stats PROVE no row can satisfy filter ``f`` (then the file never
    opens); True on any uncertainty. Sound per-conjunct: Spark pushes a
    conjunction, so one impossible conjunct kills the whole file."""
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1 or stats is None:
        return True
    col_stats = stats.get(attr[0])
    if not col_stats:
        return True
    lo, hi, has_nulls = col_stats
    if isinstance(f, IsNull):
        return bool(has_nulls)
    if isinstance(f, IsNotNull):
        return True  # stats exist => at least one non-null value
    try:
        if isinstance(f, In):
            vs = [_norm_stat_value(v) for v in f.value if v is not None]
            return any(lo <= v <= hi for v in vs)
        v = _norm_stat_value(f.value)
        if v is None:
            return True
        if isinstance(f, (EqualTo, EqualNullSafe)):
            return lo <= v <= hi
        if isinstance(f, GreaterThan):
            return hi > v
        if isinstance(f, GreaterThanOrEqual):
            return hi >= v
        if isinstance(f, LessThan):
            return lo < v
        if isinstance(f, LessThanOrEqual):
            return lo <= v
    except TypeError:
        return True  # incomparable types (schema drift) — never skip
    return True


def _may_match_files(m: dict, filters: list[tuple] | None) -> list[str]:
    """Manifest-relative files of ``m`` whose min/max stats cannot rule
    out every ``(column, op, value)`` conjunct — the file-skipping core
    of the pruned reads, DELETE and MERGE's key-range fallback."""
    parsed = _parse_filters(filters)
    stats = m.get("stats", {})
    return [
        rel
        for rel in m["files"]
        if all(_file_may_match(f, stats.get(rel)) for f in parsed)
    ]


def pruned_file_counts(
    table_dir: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> tuple[int, int]:
    """(files_kept, files_total) that :func:`read_snapshot_pruned` would
    scan for these filters — the observable half of the file-skipping
    contract, so layout claims (clustering, ZORDER) can be ASSERTED
    quantitatively instead of taken on faith."""
    m = resolve_snapshot(table_dir, version)
    return len(_may_match_files(m, filters)), len(m["files"])


def read_snapshot_pruned(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """JVM-path read with manifest-level file skipping: ``filters`` is
    a list of ``(column, op, value)`` conjuncts (ops: = > >= < <= in),
    evaluated against the per-file min/max stats — files whose stats
    prove a conjunct impossible are dropped from the scan list BEFORE
    Spark ever sees them, then the same predicates are re-applied
    row-level (so the result equals ``read_snapshot(...).filter(...)``
    exactly; skipping is a pure scan-size optimization). Use with
    ``commit_snapshot(cluster_by=...)`` writes, which give files
    disjoint ranges. The DataSource tier does this automatically via
    pushFilters; this is the whole-stage-codegen twin."""
    m = resolve_snapshot(table_dir, version)
    df = _read_files(spark, table_dir, m, _may_match_files(m, filters))
    return df.filter(_row_predicate(filters)) if filters else df


def _added_files(table_dir: str, base: dict, target: dict) -> list[str]:
    """Manifest-relative files of ``target`` absent from ``base`` —
    the rows added between them, which is only what the diff means
    across APPEND lineage: a non-append version in (base, target]
    raises ValueError, a vacuumed one FileNotFoundError. Shared by
    :func:`read_snapshot_changes` and the snapshot stream reader. The
    versions in between are read for their mode only
    (:func:`_manifest_mode`), so the check does not grow with their
    file lists."""
    for v in range(base["version"] + 1, target["version"] + 1):
        try:
            mode = _manifest_mode(table_dir, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {v} was vacuumed: incremental lineage broken — "
                "read the full version (or restart the stream) instead"
            ) from None
        if mode != "append":
            raise ValueError(
                f"version {v} is not an append: file-set diff does not "
                "mean added rows — read the full version (or restart the "
                "stream) instead"
            )
    base_files = set(base["files"])
    return [rel for rel in target["files"] if rel not in base_files]


def read_snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental read: the rows ADDED after ``from_version`` up to and
    including ``to_version`` (default latest) — i.e., the files present
    in the target manifest but not in the base one. The incremental-
    consumption pattern for append-only tables (each downstream run
    processes only the delta, the scale-correct alternative to
    re-scanning history; reference analog: the harvest queue imports
    only newly staged objects, odgovlt.py:355-367).

    Only valid across APPEND lineage: if any version in
    (from_version, to_version] is an overwrite (or compaction), the
    file-set diff no longer means "added rows" and this raises — fall
    back to a full read of the target version."""
    base = resolve_snapshot(table_dir, from_version)
    target = resolve_snapshot(table_dir, to_version)
    if target["version"] < base["version"]:
        raise ValueError(
            f"to_version {target['version']} precedes from_version "
            f"{base['version']}"
        )
    return _read_files(
        spark, table_dir, target, _added_files(table_dir, base, target)
    )


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 8,
    cluster_by: list[str] | None = None,
) -> int:
    """Maintenance OPTIMIZE: rewrite the CURRENT version's data into
    ``target_files`` larger files (optionally re-clustered) and commit
    the result as a new overwrite version — identical rows, fewer/
    better-organized files. Older versions stay readable (copy-on-
    write); reclaim the superseded small files later with vacuum. The
    small-file problem is the canonical failure mode of long-running
    append pipelines at scale."""
    df = read_snapshot(spark, table_dir)
    return commit_snapshot(
        df,
        table_dir,
        mode="overwrite",
        cluster_by=cluster_by,
        target_files=target_files,
    )


def zorder_snapshot(
    spark: SparkSession,
    table_dir: str,
    cols: tuple[str, str],
    target_files: int = 8,
    bits: int = 6,
) -> int:
    """Maintenance ``OPTIMIZE ZORDER BY (c1, c2)``: rewrite the current
    version with rows ordered along a Morton curve over quantile-binned
    (c1, c2) and commit it as a new overwrite version.

    1-D clustering (``compact_snapshot(cluster_by=[c])``) makes file
    min/max stats selective for ONE column and useless for the other;
    the Z-curve keeps BOTH dimensions locally dense, so manifest-level
    file skipping fires for filters on either column — the multi-
    dimensional layout knob of real table formats (Delta OPTIMIZE
    ZORDER, Iceberg sort orders), built from pieces already here:
    :func:`opendata_gov_lt_mysql_import_spark.sources.compact.zorder_key`
    bit-interleave + the stats-collecting commit path.

    Binning is RANK-based: per column, ``2^bits - 1`` approxQuantile
    cut points (a bounded driver-side list of scalars — never rows), so
    skewed domains still spread across the full curve where equi-width
    ``width_bucket`` binning would collapse to a few cells. Bin lookup
    is a JVM HOF count over the literal boundary array (O(2^bits) per
    row, codegen'd, no Python); nulls land in bin 0. The rewrite itself
    is one range-shuffle on the interleaved key — same cost as a plain
    clustered compaction."""
    df = read_snapshot(spark, table_dir)
    c1, c2 = cols
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    cuts = {c: df.approxQuantile(c, probs, 0.001) for c in (c1, c2)}

    def bin_of(col_name: str):
        arr = F.array(*[F.lit(float(b)) for b in cuts[col_name]])
        v = F.col(col_name).cast("double")
        return F.size(F.filter(arr, lambda b: b <= v)).cast("long")

    from .compact import zorder_key

    z = zorder_key(bin_of(c1), bin_of(c2), bits=bits)
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return commit_snapshot(out, table_dir, mode="overwrite")


def vacuum(
    table_dir: str,
    keep_last: int = 2,
    orphan_grace_seconds: float = 24 * 3600,
) -> list[str]:
    """Delete data files referenced ONLY by versions older than the
    ``keep_last`` most recent ones (and their manifests), plus ORPHANED
    files — written but never published (aborted commits, lost publish
    races, schema-drift rejections) — once older than
    ``orphan_grace_seconds`` (the grace window keeps vacuum from racing
    an in-flight commit whose manifest hasn't landed yet). Emptied
    ``data/<commit>/`` dirs are removed. The separate maintenance pass
    that pairs with copy-on-write commits — never run with readers
    pinned to vacuumed versions. Returns deleted paths."""
    import time

    v = current_version(table_dir)
    if v is None or keep_last < 1:
        return []
    keep_versions = range(max(0, v - keep_last + 1), v + 1)
    keep_files = set()
    for kv in keep_versions:
        if os.path.exists(_manifest_path(table_dir, kv)):
            keep_files.update(_load_manifest(table_dir, kv)["files"])
    deleted = []
    for old in range(0, max(0, v - keep_last + 1)):
        # versions removed by a previous vacuum are already gone
        if not os.path.exists(_manifest_path(table_dir, old)):
            continue
        for f in _load_manifest(table_dir, old)["files"]:
            if f not in keep_files:
                p = os.path.join(table_dir, f)
                if os.path.exists(p):
                    os.remove(p)
                    deleted.append(f)
        os.remove(_manifest_path(table_dir, old))
    # orphan sweep: a data/<commit>/ dir NONE of whose files any
    # surviving manifest references is an aborted/never-published
    # commit (or fully vacuumed) — reclaim it wholesale once past the
    # grace window. Live dirs are untouched, including their _SUCCESS /
    # .crc sidecars, which are never manifest-listed.
    cutoff = time.time() - orphan_grace_seconds
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for commit_dir in sorted(os.listdir(data_root)):
            cpath = os.path.join(data_root, commit_dir)
            if not os.path.isdir(cpath):
                continue
            names = sorted(os.listdir(cpath))
            live = any(
                os.path.join("data", commit_dir, n) in keep_files
                for n in names
            )
            if live:
                # a retried/speculative write task can leave an extra
                # (never-committed) parquet inside a LIVE commit dir —
                # reclaim unreferenced parquet files past the grace
                # window; sidecars (_SUCCESS/.crc) stay
                for n in names:
                    rel = os.path.join("data", commit_dir, n)
                    p = os.path.join(cpath, n)
                    if (
                        n.endswith(".parquet")
                        and rel not in keep_files
                        and os.path.getmtime(p) <= cutoff
                    ):
                        os.remove(p)
                        deleted.append(rel)
                continue
            # freshness from file mtimes (dir mtime only when empty —
            # removing old-version files above already bumped dir mtime)
            fresh = (
                any(
                    os.path.getmtime(os.path.join(cpath, n)) > cutoff
                    for n in names
                )
                if names
                else os.path.getmtime(cpath) > cutoff
            )
            if fresh:
                continue  # possibly an in-flight commit — next pass
            for n in names:
                os.remove(os.path.join(cpath, n))
                if n.endswith(".parquet"):
                    deleted.append(os.path.join("data", commit_dir, n))
            os.rmdir(cpath)
    return deleted


def snapshot_history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version, parent, mode, file count
    (vacuumed versions are absent)."""
    v = current_version(table_dir)
    out = []
    for i in range((v + 1) if v is not None else 0):
        if not os.path.exists(_manifest_path(table_dir, i)):
            continue  # vacuumed
        m = _load_manifest(table_dir, i)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "mode": m["mode"],
                "n_files": len(m["files"]),
            }
        )
    return out


def snapshot_version_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two versions — the answer for
    NON-append lineage where ``read_snapshot_changes`` correctly refuses
    (merge/delete/compact/overwrite rewrote files, so a file diff no
    longer means added rows).

    Without ``key_cols``: set semantics — full-row anti-joins both ways
    yield ``insert`` and ``delete`` rows (a compaction that only moved
    rows between files diffs to empty, as it should). With ``key_cols``:
    rows present on both sides under the key but differing elsewhere
    are emitted as ``update_postimage``/``update_preimage`` pairs (the
    Delta CDF vocabulary), not as delete+insert.

    Cost: one shuffle per side keyed on the join columns over only the
    two pinned versions' files — no history walk. For day-over-day
    reconciliation at scale prefer append lineage + CDC reads; this is
    the audit tool for rewriting transactions.
    """
    old = read_snapshot(spark, table_dir, from_version)
    new = read_snapshot(spark, table_dir, to_version)
    cols = new.columns
    if not key_cols:
        ins = new.join(old, cols, "left_anti").select(
            F.lit("insert").alias("_change_type"), *cols
        )
        dels = old.join(new, cols, "left_anti").select(
            F.lit("delete").alias("_change_type"), *cols
        )
        return ins.unionByName(dels)
    non_key = [c for c in cols if c not in key_cols]
    ins = new.join(old.select(*key_cols), key_cols, "left_anti").select(
        F.lit("insert").alias("_change_type"), *cols
    )
    dels = old.join(new.select(*key_cols), key_cols, "left_anti").select(
        F.lit("delete").alias("_change_type"), *cols
    )
    both_new = new.alias("n").join(old.alias("o"), key_cols)
    changed = both_new.filter(
        ~F.struct(*[F.col(f"n.{c}") for c in non_key]).eqNullSafe(
            F.struct(*[F.col(f"o.{c}") for c in non_key])
        )
    )
    post = changed.select(
        F.lit("update_postimage").alias("_change_type"),
        *[F.col(c) for c in key_cols],
        *[F.col(f"n.{c}") for c in non_key],
    )
    pre = changed.select(
        F.lit("update_preimage").alias("_change_type"),
        *[F.col(c) for c in key_cols],
        *[F.col(f"o.{c}") for c in non_key],
    )
    return ins.unionByName(dels).unionByName(post).unionByName(pre)
