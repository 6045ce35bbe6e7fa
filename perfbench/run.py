"""Benchmark entry point.

    python3 perfbench/run.py --workload ct_fetch --seed 1 --seconds 7 --trace 0

Run from the root of a source checkout. Builds its inputs from --seed,
runs the workload's closed loop for --seconds, checks every output
against the generator's ground truth and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (a layer the workload
never calls reads 0). Lines starting with "# " before it are run notes:
Spark conf, load average, sample counts and, in a traced run, the
end-to-end values measured with tracing on.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


WORKLOADS = {
    "ct_fetch": ("perfbench.wl_ct", "CtFetch"),
    "ct_query": ("perfbench.wl_ct", "CtQuery"),
    "llm_data": ("perfbench.wl_llm", "LlmData"),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ct_mapreduce_spark", "__init__.py")):
        print("perfbench: run from the root of a ct_mapreduce_spark checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from perfbench.harness import Bench, load_benchmark_json, unit_of

    spec = load_benchmark_json(ROOT)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)()
    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        e2e = bench.run(wl)
        bench.stop_spark()  # flushes the event log
        layers = bench.layer_metrics(wl.layers) if args.trace else {}
    finally:
        bench.shutdown()
    print("# " + json.dumps(bench.info, sort_keys=True))
    if args.trace:
        print("# traced end-to-end: " + json.dumps(e2e, sort_keys=True))
        print("# layers: " + json.dumps(layers, sort_keys=True))
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": unit_of(m["name"])}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
