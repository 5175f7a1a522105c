"""Interleaved core-count scaling probe (round-15 verdict item 7):
times named HEADLINE entries at local[CPUS_MAIN] vs local[CPUS_LOW],
INTERLEAVED round-by-round (c32 r1, c8 r1, c32 r2, ...) so the box's
host-contention phases hit both core counts roughly equally — a
single-run c8/c32 tail (the driver's own scaling pass) is
unadjudicable on this box. Each side is a fresh subprocess (a session
cannot change its master live) carrying the full-evaluation checksum
protocol, so a changed result is loud.

Writes a ``core_scaling`` block into SCALING.json (bench.py embeds the
file into BENCH_LOCAL.json as ``scaling_appendix``): per entry the
min-of-rounds wall at each core count, the c_low/c_main ratio
(> 1 means more cores help; ~1 means the entry is driver- or
coordination-bound at this SF), and the checksum match.

Usage:
  python tools/bench_core_scaling.py [--entries a,b,c] [--runs 3]
      [--cpus-main 32] [--cpus-low 8] [--out SCALING.json]

Default entries: the slowest 10 of BENCH_COMMITTED.json. Entry names
are checked against the query registry before any Spark process
starts. A side that times out is recorded under ``failed_sides`` and
the rounds already completed are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDE_TIMEOUT_S = 3600

# runs inside a subprocess; prints ONE json line {entry: [sec, n, chk]}
_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from opendata_gov_lt_mysql_import_spark.session import get_spark
from opendata_gov_lt_mysql_import_spark.queries import all_queries
import opendata_gov_lt_mysql_import_spark.queries_ml  # noqa: F401
import opendata_gov_lt_mysql_import_spark.queries_sql  # noqa: F401
try:
    import opendata_gov_lt_mysql_import_spark.queries_suites  # noqa: F401
except ImportError:
    pass
from bench import force_eval_chk

entries = sys.argv[1].split(",")
sf_dir = sys.argv[2]
spark = get_spark(app_name="core_scaling")
qs = all_queries()
qs["q1_pricing_summary"](spark, sf_dir).count()  # warm JVM + footers
out = {}
for name in entries:
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    n, chk = force_eval_chk(qs[name](spark, sf_dir))
    out[name] = [round(time.perf_counter() - t0, 4), n, chk]
print("@@RESULT@@" + json.dumps(out))
"""


def _run_side(cpus: int, entries: list[str], sf_dir: str) -> dict | None:
    """{entry: [sec, n, chk]} from one subprocess, or None if it timed
    out."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS=str(cpus))
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _RUNNER, ",".join(entries), sf_dir],
            cwd=REPO, env=env, capture_output=True, text=True,
            timeout=SIDE_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return None
    for line in proc.stdout.splitlines():
        if line.startswith("@@RESULT@@"):
            return json.loads(line[len("@@RESULT@@"):])
    raise RuntimeError(
        f"runner (cpus={cpus}) produced no result:\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entries", default=None, help="comma-separated")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus-main", type=int, default=32)
    ap.add_argument("--cpus-low", type=int, default=8)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING.json"))
    args = ap.parse_args()

    if args.entries:
        entries = args.entries.split(",")
    else:
        with open(os.path.join(REPO, "BENCH_COMMITTED.json")) as fh:
            committed = json.load(fh)["queries"]
        entries = [
            k for k, _ in sorted(
                committed.items(), key=lambda kv: kv[1], reverse=True
            )[:10]
        ]
    sys.path.insert(0, REPO)
    import __spark_entry__

    unknown = sorted(set(entries) - set(__spark_entry__.queries()))
    if unknown:
        ap.error(f"unknown entries: {', '.join(unknown)}")
    print(f"# entries: {entries}", flush=True)

    mains: dict[str, list] = {e: [] for e in entries}
    lows: dict[str, list] = {e: [] for e in entries}
    chks: dict[str, set] = {e: set() for e in entries}
    failed: list[dict] = []
    for r in range(args.runs):
        for cpus, acc in ((args.cpus_main, mains), (args.cpus_low, lows)):
            res = _run_side(cpus, entries, args.sf_dir)
            if res is None:
                failed.append(
                    {"round": r, "cpus": cpus, "timeout_s": SIDE_TIMEOUT_S}
                )
                print(f"# round {r} cpus={cpus}: timed out", flush=True)
                continue
            for e, (sec, n, chk) in res.items():
                acc[e].append(sec)
                chks[e].add((n, chk))
            print(f"# round {r} cpus={cpus}: "
                  + ", ".join(f"{e}={res[e][0]:.2f}s" for e in entries),
                  flush=True)

    block = {
        "protocol": (
            f"interleaved c{args.cpus_main}/c{args.cpus_low}, "
            f"min-of-{args.runs}, subprocess per side per round, "
            "full-evaluation checksums"
        ),
        "cpus_main": args.cpus_main,
        "cpus_low": args.cpus_low,
        "sf_dir": args.sf_dir,
        "failed_sides": failed,
        "entries": {},
    }
    for e in entries:
        tm = min(mains[e], default=None)
        tl = min(lows[e], default=None)
        block["entries"][e] = {
            f"t_c{args.cpus_main}_min": tm,
            f"t_c{args.cpus_low}_min": tl,
            f"all_c{args.cpus_main}": mains[e],
            f"all_c{args.cpus_low}": lows[e],
            "ratio_low_over_main": round(tl / tm, 3) if tm and tl else None,
            "chk_match": len(chks[e]) == 1,
            "chk": sorted(chks[e])[0][1] if len(chks[e]) == 1 else None,
        }

    try:
        with open(args.out) as fh:
            scaling = json.load(fh)
    except (OSError, json.JSONDecodeError):
        scaling = {}
    scaling["core_scaling"] = block
    with open(args.out, "w") as fh:
        json.dump(scaling, fh, indent=1)
        fh.write("\n")
    print(f"# wrote core_scaling block to {args.out}")
    for e in entries:
        b = block["entries"][e]
        print(f"{e}: ratio_low_over_main={b['ratio_low_over_main']} "
              f"chk_match={b['chk_match']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
