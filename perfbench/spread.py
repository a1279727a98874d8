"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload form1_wide --seeds 1-10 [--trace 0]

For every metric it prints the median over the seeds and the distance
between the first and third quartile as a share of the median (Python's
``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``. Records whose host fingerprints differ are not compared:
the script stops if the runs do not share one fingerprint.
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


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    prints = set()
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, ".runs", f"{args.workload}-{seed}-trace{args.trace}.json")) as fh:
            prints.add(json.load(fh)["fingerprint"]["id"])
        if len(prints) > 1:
            print("host fingerprints differ between runs; not comparing", file=sys.stderr)
            return 1
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/{result['attempted']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        note = "" if bound is None else f"  bound {bound}  {'ok' if spread < bound / 3 else 'WIDE'}"
        print(f"{name:28s} median {med:12.4f}  iqr/median {spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
