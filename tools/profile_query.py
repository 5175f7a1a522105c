"""Per-query profiler for the optimization rounds.

For each named registry entry, runs the query under the bench protocol
(force_eval_chk, cache cleared per run) and reports:

- wall per run + rows/checksum (so a changed result is loud),
- per-run job timeline from the Spark event log (job wall, task time,
  task count per job) — where the executor time went,
- the driver-side gap (wall minus the union of job intervals) — plan
  construction + Catalyst analysis + py4j, the part no executor
  profile shows,
- optionally the formatted plan dumped to plans/$SPARK_GRAFT_PLAN_DIR (default r16)/<name>_<tag>.txt.

Usage:
  python tools/profile_query.py NAME [NAME...] [--runs=3] [--plan=TAG]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"


def _read_events(path: str) -> list[dict]:
    out = []
    with open(path) as fh:
        for line in fh:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                pass
    return out


def _job_spans(events: list[dict], t_lo_ms: int, t_hi_ms: int):
    """Job (id, desc, start, end, n_tasks, task_ms) overlapping the
    [t_lo_ms, t_hi_ms] wall-clock window."""
    starts = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            jid = ev["Job ID"]
            infos = ev.get("Stage Infos", [])
            site = ""
            if infos:
                # the LAST stage carries the action's callsite
                site = infos[-1].get("Stage Name", "")
            starts[jid] = {
                "start": ev["Submission Time"],
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                or site,
                "stages": len(ev.get("Stage IDs", [])),
            }
    # task time per stage -> attribute to job via stage infos
    stage_task_ms: dict[int, float] = {}
    stage_tasks: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            ti = ev.get("Task Info", {})
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            stage_task_ms[sid] = stage_task_ms.get(sid, 0) + dur
            stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
    job_stages: dict[int, list[int]] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
    rows = []
    for ev in events:
        if ev.get("Event") == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid not in starts:
                continue
            s = starts[jid]
            end = ev["Completion Time"]
            if end < t_lo_ms or s["start"] > t_hi_ms:
                continue
            tms = sum(stage_task_ms.get(x, 0) for x in job_stages.get(jid, []))
            ntk = sum(stage_tasks.get(x, 0) for x in job_stages.get(jid, []))
            rows.append(
                {
                    "job": jid,
                    "desc": s["desc"][:60],
                    "start": s["start"],
                    "end": end,
                    "wall_ms": end - s["start"],
                    "tasks": ntk,
                    "task_ms": tms,
                }
            )
    rows.sort(key=lambda r: r["start"])
    return rows


def _union_ms(rows: list[dict]) -> float:
    ivs = sorted((r["start"], r["end"]) for r in rows)
    tot = 0
    cur_s = cur_e = None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    plan_tag = None
    verbose = "--jobs" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        if a.startswith("--plan="):
            plan_tag = a.split("=", 1)[1]
        elif a == "--plan":
            plan_tag = "before"
    os.makedirs(EVDIR, exist_ok=True)
    from opendata_gov_lt_mysql_import_spark.session import get_spark
    from opendata_gov_lt_mysql_import_spark.queries import all_queries
    import opendata_gov_lt_mysql_import_spark.queries_ml  # noqa: F401
    import opendata_gov_lt_mysql_import_spark.queries_sql  # noqa: F401
    import opendata_gov_lt_mysql_import_spark.queries_suites  # noqa: F401

    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{EVDIR}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    from bench import force_eval_chk

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = all_queries()
    queries["q1_pricing_summary"](spark, sf_dir).count()
    app_id = spark.sparkContext.applicationId
    evfile = os.path.join(EVDIR, app_id + ".inprogress")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name in names:
        fn = queries[name]
        print(f"== {name} ==", flush=True)
        for r in range(runs):
            spark.catalog.clearCache()
            t0_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            n, chk = force_eval_chk(df)
            wall = time.perf_counter() - t0
            t1_ms = int(time.time() * 1000)
            time.sleep(0.3)
            rows = []
            if os.path.exists(evfile):
                rows = _job_spans(_read_events(evfile), t0_ms, t1_ms)
            exec_ms = _union_ms(rows)
            print(
                f"  run{r}: wall={wall:.3f}s dag_build={t_build:.3f}s "
                f"jobs={len(rows)} job_union={exec_ms/1000:.3f}s "
                f"driver_gap={wall - exec_ms/1000:.3f}s "
                f"rows={n} chk={chk}",
                flush=True,
            )
            if verbose and r == runs - 1:
                for jr in rows:
                    print(
                        f"    job {jr['job']:>4} {jr['wall_ms']:>6}ms "
                        f"tasks={jr['tasks']:>4} "
                        f"task_ms={jr['task_ms']:>7} {jr['desc']}",
                        flush=True,
                    )
        if plan_tag:
            plan_dir = os.path.join(
                here, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r16")
            )
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            p = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            out = os.path.join(plan_dir, f"{name}_{plan_tag}.txt")
            with open(out, "w") as fh:
                fh.write(p)
            print(f"  plan -> {out}", flush=True)


if __name__ == "__main__":
    main()
