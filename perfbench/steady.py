"""Steadiness self-check and tracing-overhead report.

    python3 perfbench/steady.py steady [--workloads a,b] [--runs 5] [--seed0 100]
    python3 perfbench/steady.py trace  [--workloads a,b] [--seed 7]

`steady` runs each workload in two sets of --runs runs, each run with its
own seed, and prints per end-to-end metric each set's median and
quartiles, the spread (q3 - q1) / median, and how far the second median
moved from the first in the worse direction; both are compared with the
metric's bound from BENCHMARK.json.

`trace` runs each workload once untraced and once traced on the same
seed and prints the per-layer metrics and the tracing overhead: traced
minus untraced, for every end-to-end metric.

Run from the root of the checkout; runs are sequential, one Spark at a
time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import load_benchmark_json, quartiles  # noqa: E402

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result line, run notes) of one benchmark run."""
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    notes = {}
    for line in out:
        if line.startswith("# traced end-to-end: "):
            notes["traced"] = json.loads(line.split(": ", 1)[1])
        elif line.startswith("# {"):
            notes["info"] = json.loads(line[2:])
    return json.loads(out[-1]), notes


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share of
    the first (negative when it is better)."""
    d = (second - first) / first
    return d if better == "lower" else -d


def steady(spec: dict, workloads: list[str], runs: int, seed0: int, seconds: int, log) -> int:
    bad = 0
    for w in workloads:
        sets = []
        for s in range(2):
            vals: dict[str, list[float]] = {}
            for i in range(runs):
                seed = seed0 + s * runs + i
                res, notes = run_once(w, seed, seconds, 0)
                if res["failed"]:
                    print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} failed")
                    bad += 1
                for name, m in res["metrics"].items():
                    vals.setdefault(name, []).append(m["value"])
                info = notes.get("info", {})
                log.write(json.dumps({"workload": w, "seed": seed, "result": res, "notes": notes}) + "\n")
                print(f"# {w} set {s} seed {seed}: " + json.dumps(
                    {k: info.get(k) for k in ("phases_s", "samples", "steal_share", "load1_start", "load1_end")}),
                    file=sys.stderr)
            sets.append(vals)
        print(f"\n{w}: {runs} runs per set")
        print(f"{'metric':16} {'median A':>12} {'q1-q3 A':>23} {'spread A':>9} "
              f"{'median B':>12} {'spread B':>9} {'worse B':>8} {'bound':>6}")
        for m in spec["end_to_end"]:
            a, b = sets[0][m["name"]], sets[1][m["name"]]
            qa, qb = quartiles(a), quartiles(b)
            sa, sb = (qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1]
            drift = worse_by(qa[1], qb[1], m["better"])
            flag = ""
            if max(sa, sb) > m["bound"]:
                flag = "  SPREAD OVER BOUND"
                bad += 1
            elif drift > m["bound"]:
                flag = "  DRIFT OVER BOUND"
                bad += 1
            elif max(sa, sb) > m["bound"] / 3:
                flag = "  spread over bound/3"
            print(f"{m['name']:16} {qa[1]:12.5g} {qa[0]:11.5g}-{qa[2]:<11.5g} {sa:9.3f} "
                  f"{qb[1]:12.5g} {sb:9.3f} {drift:8.3f} {m['bound']:6.2f}{flag}")
            print("    A: " + " ".join(f"{v:.5g}" for v in sorted(a)))
            print("    B: " + " ".join(f"{v:.5g}" for v in sorted(b)))
    return 1 if bad else 0


def trace(spec: dict, workloads: list[str], seed: int, seconds: int) -> int:
    for w in workloads:
        plain, _ = run_once(w, seed, seconds, 0)
        traced, notes = run_once(w, seed, seconds, 1)
        print(f"\n{w} seed {seed}: per-layer metrics (traced run)")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"  {name:60} {m['value']:14.6g} {m['unit']}")
        print(f"{w}: tracing overhead, traced minus untraced")
        for m in spec["end_to_end"]:
            u = plain["metrics"][m["name"]]["value"]
            t = notes["traced"][m["name"]]
            print(f"  {m['name']:16} untraced {u:12.5g} traced {t:12.5g} "
                  f"diff {t - u:+12.5g} ({(t - u) / u:+.1%})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("steady", "trace"))
    ap.add_argument("--workloads", default=None, help="comma list; default: all of BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--log", default=None, help="steady: append every run's result and notes here (JSON lines)")
    args = ap.parse_args()
    spec = load_benchmark_json(os.getcwd())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    if args.mode == "steady":
        with open(args.log or os.devnull, "a") as log:
            return steady(spec, workloads, args.runs, args.seed0, spec["run_seconds"], log)
    return trace(spec, workloads, args.seed, spec["run_seconds"])


if __name__ == "__main__":
    sys.exit(main())
