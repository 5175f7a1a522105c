"""Measurement plumbing: spans, the py4j command counter, the Spark event
log reader and process-tree memory.

Everything here wraps the benchmark's own calls into the package; the
package itself is not modified. The traced run turns these on; the
untraced run uses only ``time.perf_counter`` around each op.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int | None
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span in Tracer.spans

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. Spans
    nest by call structure; a span's self time is its duration minus the
    time its direct children cover."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, op, time.perf_counter(), parent=parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, child)]

    def per_op(self, name: str) -> dict[int, float]:
        """Self time of every span called ``name``, summed per op."""
        out: dict[int, float] = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            if s.name == name and s.op is not None:
                out[s.op] += t
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                [
                    {"name": s.name, "op": s.op, "start": s.start, "end": s.end,
                     "parent": s.parent, "self_s": t}
                    for s, t in zip(self.spans, selfs)
                ],
                f,
            )


class NullTracer(Tracer):
    """The untraced run: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield


# ---------------------------------------------------------------------------
# py4j command counter
# ---------------------------------------------------------------------------

# py4j's garbage-collection delete is "m\nd\n<id>\ne\n": sent whenever
# Python happens to collect a JavaObject, so its count depends on the
# collector's timing, not on the work the program asked for.
GC_DELETE_PREFIX = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent from one thread, ignoring GC deletes.

    Installed by wrapping ``send_command`` of py4j's two connection
    classes; counting happens only while ``armed`` and only for the
    thread that armed it."""

    def __init__(self) -> None:
        self.count = 0
        self._thread: int | None = None
        self._start = 0
        self._saved: list[tuple[type, object]] = []

    def observe(self, command: str) -> None:
        if self._thread == threading.get_ident() and not command.startswith(
            GC_DELETE_PREFIX
        ):
            self.count += 1

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            original = cls.send_command
            self._saved.append((cls, original))

            def send_command(conn, command, _original=original, **kw):
                self.observe(command)
                return _original(conn, command, **kw)

            cls.send_command = send_command

    def uninstall(self) -> None:
        for cls, original in self._saved:
            cls.send_command = original
        self._saved.clear()

    def arm(self) -> None:
        self._start = self.count
        self._thread = threading.get_ident()

    def disarm(self) -> int:
        """Stop counting; return the commands sent since ``arm``."""
        self._thread = None
        return self.count - self._start


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

MB = 1024.0 * 1024.0


@dataclass
class JobStats:
    group: str
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    scan_rows: dict[str, int] = field(default_factory=dict)


def _scan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Map each parquet scan's 'number of output rows' accumulator to the
    file the scan reads (last path component of its Location)."""
    name = plan.get("nodeName", "")
    if name.startswith("Scan") or "FileScan" in name:
        loc = plan.get("metadata", {}).get("Location", "")
        target = loc.rstrip("]").rsplit("/", 1)[-1] if loc else name
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[int(m["accumulatorId"])] = target
    for child in plan.get("children", []):
        _scan_metric_ids(child, out)


def read_event_log(log_dir: str) -> dict[str, JobStats]:
    """Aggregate the one uncompressed Spark event log in ``log_dir`` by
    job group.

    Returns one ``JobStats`` per ``spark.jobGroup.id``: job and task
    counts, executor CPU, bytes read by scans, shuffle bytes, spill and
    rows output per scanned file."""
    by_group: dict[str, JobStats] = {}
    stage_group: dict[int, str] = {}
    scan_ids: dict[int, str] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _scan_metric_ids(ev.get("sparkPlanInfo", {}), scan_ids)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            st = by_group.setdefault(group, JobStats(group))
            st.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            st = by_group[group]
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                target = scan_ids.get(int(acc.get("ID", -1)))
                if target is not None and "Update" in acc:
                    st.scan_rows[target] = st.scan_rows.get(target, 0) + int(acc["Update"])
    return by_group


def _event_lines(log_dir: str):
    """Lines of the single application log a session wrote into
    ``log_dir``: a plain file, or Spark 4's rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` parts."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(
            (os.path.join(path, n) for n in os.listdir(path) if n.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    for part in parts:
        with open(part, encoding="utf-8") as f:
            yield from f


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over ``root`` (default: this process) and every live
    descendant: the Python driver, the JVM and Spark's Python workers."""
    root = os.getpid() if root is None else root
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / MB


_EXCHANGE = re.compile(r"\b\w*Exchange\b")


def count_exchanges(agg) -> int:
    """Exchange nodes in the final executed plan (AQE appends the
    initial plan after a marker; only the part before it counts)."""
    plan = agg._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return sum(1 for w in _EXCHANGE.findall(final) if w != "ReusedExchange")


def catalyst_phases(agg) -> dict[str, float]:
    phases = agg._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# the traced run's recorder
# ---------------------------------------------------------------------------


class SparkTracer(Tracer):
    """Spans that also put every Spark job started inside them in a job
    group of their own, ``pb:<op>:<span name>``, so the event log can
    attribute each job to one phase of one op."""

    def __init__(self, sc) -> None:
        super().__init__()
        self.sc = sc

    @contextmanager
    def span(self, name: str, op: int | None = None):
        with super().span(name, op):
            s = self.spans[-1]
            self.sc.setJobGroup(f"pb:{s.op}:{name}", name, False)
            try:
                yield
            finally:
                parent = self.spans[s.parent] if s.parent is not None else None
                if parent is not None:
                    self.sc.setJobGroup(f"pb:{parent.op}:{parent.name}", parent.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


class NullRecorder:
    """The untraced run records nothing."""

    def close(self) -> None: ...
    def begin_op(self, op: int) -> None: ...
    def end_op(self, op: int) -> None: ...
    def arm_py4j(self) -> None: ...
    def disarm_py4j(self) -> int: return 0
    def record(self, op, key: str, value: float) -> None: ...
    def after_action(self, op: int, agg) -> None: ...
    def before_write(self, op, table_dir: str) -> None: ...
    def after_write(self, op, table_dir: str) -> None: ...


class LayerRecorder(NullRecorder):
    """Per-op counters of the traced run, keyed by op id."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.values: dict[int, dict[str, float]] = defaultdict(dict)
        self.py4j = Py4jCounter()
        self.py4j.install()
        self._files: dict[str, int] = {}
        self._version: int | None = None

    def close(self) -> None:
        self.py4j.uninstall()

    def record(self, op, key: str, value: float) -> None:
        self.values[op][key] = self.values[op].get(key, 0) + value

    def begin_op(self, op: int) -> None:
        self.spark.profile.clear(type="perf")

    def end_op(self, op: int) -> None:
        results = self.spark._profiler_collector._perf_profile_results
        self.record(op, "functions.python_udf_s", sum(s.total_tt for s in results.values()))

    def arm_py4j(self) -> None:
        self.py4j.arm()

    def disarm_py4j(self) -> int:
        return self.py4j.disarm()

    def after_action(self, op: int, agg) -> None:
        for phase, secs in catalyst_phases(agg).items():
            self.record(op, f"catalyst.{phase}_s", secs)
        self.record(op, "catalyst.exchanges", count_exchanges(agg))

    @staticmethod
    def _listing(table_dir: str) -> dict[str, int]:
        out = {}
        for dirpath, _, files in os.walk(table_dir):
            for name in files:
                path = os.path.join(dirpath, name)
                out[path] = os.path.getsize(path)
        return out

    def before_write(self, op, table_dir: str) -> None:
        from opendata_gov_lt_mysql_import_spark.sources.snapshots import current_version

        self._files = self._listing(table_dir)
        self._version = current_version(table_dir)

    def after_write(self, op, table_dir: str) -> None:
        """Bytes of the files a cycle added, and files of the parent
        version that copy-on-write replaced, summed over its commits."""
        from opendata_gov_lt_mysql_import_spark.sources.snapshots import (
            current_version,
            resolve_snapshot,
        )

        after = self._listing(table_dir)
        new_bytes = sum(size for path, size in after.items() if path not in self._files)
        self.record(op, "sources.bytes_written_mb", new_bytes / MB)
        rewritten = 0
        for v in range(self._version + 1, current_version(table_dir) + 1):
            parent = set(resolve_snapshot(table_dir, v - 1)["files"])
            rewritten += len(parent - set(resolve_snapshot(table_dir, v)["files"]))
        self.record(op, "sources.files_rewritten", rewritten)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    kids = _children()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")
