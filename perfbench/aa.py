"""A/A mode: two sets of runs of the same code, interleaved, compared
against the benchmark's own bounds.

    python3 perfbench/aa.py --runs 5                 # every workload
    python3 perfbench/aa.py --workload recipe_audit --runs 5 --first-seed 101

For each workload, set A takes seeds ``first-seed ...`` and set B the
next ``--runs`` seeds; the runs alternate A, B, A, B. For each end-to-end
metric it prints both sets' medians, each set's spread (the distance
between the first and third quartile as a share of the median), the
metric's bound, and whether B's median is worse than A's by more than
the bound. ``setup_s`` is exempt from the spread test. The share of
failed ops must be identical in the two sets. Raw results are kept in
``.perfbench_run/aa-<workload>.json``. Exits 1 when any check fails.

With ``--trace 1`` the same runs report the per-layer metrics; the
script then lists each counter's values, which should repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def compare(bench: dict, workload: str, a: list[dict], b: list[dict]) -> bool:
    ok = True
    share = {name: {r["failed"] / r["attempted"] for r in runs}
             for name, runs in (("A", a), ("B", b))}
    if share["A"] != share["B"] or len(share["A"]) != 1:
        print(f"  failed share differs: A {share['A']} B {share['B']}")
        ok = False
    if not all(r["correct"] for r in a + b):
        print("  a run reported incorrect output")
        ok = False
    print(f"  {'metric':14s} {'median A':>11s} {'median B':>11s} {'spread A':>9s} "
          f"{'spread B':>9s} {'bound':>6s}  verdict")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        va = [r["metrics"][name]["value"] for r in a]
        vb = [r["metrics"][name]["value"] for r in b]
        ma, mb = statistics.median(va), statistics.median(vb)
        sa, sb = spread(va), spread(vb)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        verdict = []
        if name != "setup_s" and max(sa, sb) > bound:
            verdict.append("SPREAD>BOUND")
        elif name != "setup_s" and max(sa, sb) > bound / 3:
            verdict.append("spread>bound/3")
        if worse > bound:
            verdict.append("B WORSE>BOUND")
        ok = ok and not any(v.isupper() for v in verdict)
        print(f"  {name:14s} {ma:11.4f} {mb:11.4f} {sa:9.3f} {sb:9.3f} {bound:6.2f}  "
              f"{' '.join(verdict) or 'ok'}")
    return ok


def show_layers(runs: list[dict]) -> None:
    names = runs[0]["metrics"]
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        print(f"  {name:26s} " + " ".join(f"{v:.4g}" for v in vals))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description="interleaved A/A runs of the benchmark")
    p.add_argument("--workload", action="append",
                   choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=5, help="runs per set")
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2 for quartiles")
    ok = True
    for workload in args.workload or [w["name"] for w in bench["workloads"]]:
        a, b = [], []
        for i in range(args.runs):
            a.append(run_once(bench, workload, args.first_seed + i, args.trace))
            b.append(run_once(bench, workload, args.first_seed + args.runs + i, args.trace))
        os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench_run", f"aa-{workload}.json"), "w",
                  encoding="utf-8") as f:
            json.dump({"A": a, "B": b}, f, indent=1)
        print(f"{workload}: {args.runs} + {args.runs} runs")
        if args.trace:
            show_layers(a + b)
        else:
            ok = compare(bench, workload, a, b) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
