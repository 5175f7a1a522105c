"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. It generates the workload's inputs from
the seed, starts one SparkSession through the package's ``get_spark``,
makes one untimed warm-up pass that is also the checked run, and then
times whole rounds of ops until ``--seconds`` of op time have passed.
Every op's output is checked apart from its timing. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``; BENCHMARK.json names both).

Everything the run writes goes under ``.perfbench_run/`` in the checkout;
the run's own directory is removed at the end, and a traced run leaves
its spans in ``.perfbench_run/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import WORKLOADS, CheckFailed  # noqa: E402

# local[k] with k at most the machine's cores, a fixed shuffle width and
# a fixed driver heap, so runs on one machine repeat
MAX_CPUS = 4
DRIVER_MEMORY = "1g"

PLANS_SPANS = ("plans.package_documents", "plans.plan_sync", "plans.counts")
SOURCES_WRITE_SPANS = ("sources.merge_snapshot", "sources.delete_snapshot_rows")


class Context:
    def __init__(self, args, cpus: int):
        self.seed = args.seed
        self.cpus = cpus
        self.work = os.path.join(
            ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        self.tracer = layers.NullTracer()
        self.layers = layers.NullRecorder()
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op


def load_metrics() -> tuple[list[str], list[str], dict[str, str]]:
    """End-to-end and per-layer metric names, and every metric's unit,
    as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    return e2e, per_layer, units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(ctx: Context) -> None:
    """Keep every file the run writes inside its work directory, and let
    Spark's Python workers import the package from the checkout."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)
    # every JVM started below (Spark's launcher and the driver) keeps its
    # temporary files here, and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(ctx: Context, trace: bool):
    from opendata_gov_lt_mysql_import_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(ctx.work, 'derby')}",
    }
    if trace:
        ctx.event_dir = os.path.join(ctx.work, "events")
        os.makedirs(ctx.event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.event_dir,
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    spark = get_spark(shuffle_partitions=ctx.cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it Spark's Python
    workers) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        spark.sparkContext._gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001  the JVM did not exit in time
            proc.kill()
            proc.wait()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(ctx, wl, timed, op_secs, session_start_s, names) -> dict[str, float]:
    """Per-op medians of every layer metric over the timed ops."""
    rec, tracer = ctx.layers, ctx.tracer
    per_op: dict[int, dict[str, float]] = {op: dict(rec.values.get(op, {})) for op in timed}

    def add(op, key, value):
        per_op[op][key] = per_op[op].get(key, 0) + value

    for name, key in (
        ("queries.construct", "queries.construct_s"),
        ("exec.action", "exec.action_s"),
        *((n, "plans.plan_sync_s") for n in PLANS_SPANS),
        *((n, "sources.write_s") for n in SOURCES_WRITE_SPANS),
    ):
        for op, secs in tracer.per_op(name).items():
            if op in per_op:
                add(op, key, secs)
    for group, st in layers.read_event_log(ctx.event_dir).items():
        if not group.startswith("pb:"):
            continue
        _, op_s, phase = group.split(":", 2)
        op = int(op_s)
        if op not in per_op:
            continue
        if phase == "queries.construct":
            add(op, "queries.construct_jobs", st.jobs)
        if phase in PLANS_SPANS:
            add(op, "plans.jobs", st.jobs)
        for key in ("jobs", "tasks", "task_cpu_s", "input_mb", "shuffle_write_mb",
                    "shuffle_read_mb", "spill_mb"):
            add(op, f"exec.{key}", getattr(st, key))
        add(op, "plans.source_reads", st.scan_rows.get("rinkmena.parquet", 0))
    for vals in per_op.values():
        if "plans.source_rows" in vals:
            vals["plans.source_reads"] = vals.get("plans.source_reads", 0) / vals.pop(
                "plans.source_rows"
            )
    out = {k: median(v.get(k, 0) for v in per_op.values()) for k in names}
    out["session.start_s"] = session_start_s
    out["sources.stored_mb"] = wl.stored_mb()
    out["trace.op_s.p50"] = median(op_secs)
    out["trace.ops_per_s"] = len(op_secs) / sum(op_secs)
    return out


def run(args) -> dict:
    e2e_names, layer_names, units = load_metrics()
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    ctx = Context(args, cpus)
    # fail before any work when the program is not importable here
    sys.path.insert(0, ROOT)
    import opendata_gov_lt_mysql_import_spark.session  # noqa: F401
    import __spark_entry__  # noqa: F401

    shutil.rmtree(ctx.work, ignore_errors=True)
    configure_environment(ctx)

    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.prepare_inputs()
    prepare_s = time.perf_counter() - t0
    spark = None
    try:
        wl.start_checks()
        t0 = time.perf_counter()
        spark = start_session(ctx, bool(args.trace))
        session_start_s = time.perf_counter() - t0
        if args.trace:
            ctx.tracer = layers.SparkTracer(spark.sparkContext)
            ctx.layers = layers.LayerRecorder(spark)
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t0

        timed: list[int] = []
        op_secs: list[float] = []
        op_cpu: list[float] = []
        busy = 0.0  # op time, failed ops included
        attempted = failed = 0
        for failure in wl.failures:
            print(f"incorrect: {failure}", file=sys.stderr)
        correct = not wl.failures
        while busy < args.seconds and (names := wl.round()):
            for name in names:
                op = ctx.new_op()
                attempted += 1
                ctx.layers.begin_op(op)
                cpu = layers.tree_cpu_s()
                t = time.perf_counter()
                try:
                    result = wl.op(name, op)
                except Exception:  # noqa: BLE001  count the op as failed, keep going
                    busy += time.perf_counter() - t
                    traceback.print_exc()
                    failed += 1
                    continue
                op_secs.append(time.perf_counter() - t)
                busy += op_secs[-1]
                op_cpu.append(layers.tree_cpu_s() - cpu)
                print(f"op {op} {name}: {op_secs[-1]:.3f} s, {op_cpu[-1]:.2f} cpu-s")
                timed.append(op)
                ctx.layers.end_op(op)
                try:
                    wl.check(result)
                except CheckFailed as e:
                    print(f"incorrect: {e}", file=sys.stderr)
                    correct = False
        peak_rss = layers.tree_peak_rss_mb()
    finally:
        wl.close()
        ctx.layers.close()
        if spark is not None:
            stop_session(spark)

    if not op_secs:
        raise RuntimeError("no op completed")
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_run", "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(
            ROOT, ".perfbench_run", "traces", f"{args.workload}-s{args.seed}.json"
        ))
        metrics = layer_metrics(ctx, wl, timed, op_secs, session_start_s, layer_names)
    else:
        metrics = {
            "setup_s": prepare_s + session_start_s + warm_s,
            "op_cpu_s.p50": median(op_cpu),
            "peak_rss_mb": peak_rss,
        }
    wanted = layer_names if args.trace else e2e_names
    if set(metrics) != set(wanted):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {wanted}")
    metrics = {k: metrics[k] for k in wanted}
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(f"set-up: inputs {prepare_s:.2f} s, session {session_start_s:.2f} s, "
          f"warm-up {warm_s:.2f} s; timed {len(op_secs)} ops in {sum(op_secs):.2f} s, "
          f"wall time per op p50 {median(op_secs):.3f} s")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    for name, m in result["metrics"].items():
        print(f"{name:28s} {m['value']:>14.6g} {m['unit']}")
    print(f"ops attempted {result['attempted']}, failed {result['failed']}, "
          f"correct {result['correct']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
