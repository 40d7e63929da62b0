"""Run the benchmark over several seeds and print each end-to-end
metric's median, quartiles and spread (IQR / median), the figures the
acceptance rule reads.

    python3 layerbench/steadiness.py --workload pipeline-recrawl \
        --seeds 1 2 3 4 5 [--trace 0] [--out results.json]

Runs are sequential; each is a fresh process, as in a real run.  With
``--trace 1 --untraced results.json`` (the ``--out`` of an untraced
set) it also prints the tracing overhead: the traced runs' median of
each end-to-end metric minus the untraced median.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(results: list[dict]) -> dict:
    table = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        table[name] = {
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": values,
        }
    return table


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument("--untraced", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    for seed in args.seeds:
        r = run_once(args.workload, seed, args.seconds, args.trace)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        results.append(r)
    table = summarize(results)
    print(f"{'metric':<22} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for name, t in table.items():
        bound = bounds.get(name)
        print(f"{name:<22} {t['median']:>10.4g} {t['q1']:>10.4g} {t['q3']:>10.4g} "
              f"{t['spread']:>7.3f} {bound if bound is not None else '-':>6}")
    if args.untraced:
        with open(args.untraced) as fh:
            base = json.load(fh)["table"]
        print(f"{'tracing overhead':<22} {'traced':>10} {'untraced':>10} {'diff':>10}")
        for name, t in base.items():
            traced = table[f"traced.{name}"]["median"]
            print(f"{name:<22} {traced:>10.4g} {t['median']:>10.4g} {traced - t['median']:>10.4g}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seeds": args.seeds, "runs": results, "table": table}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
