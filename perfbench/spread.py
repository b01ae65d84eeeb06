#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median
and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload etl_ingest --seeds 1-10 [--trace 0] [--out runs.jsonl]

Each run is a fresh process of ``perfbench/run.py`` with the
``run_seconds`` of ``BENCHMARK.json``. Result lines are appended to
``--out`` (default ``perfbench/.out/runs-<workload>-<trace>.jsonl``), so
two invocations with ``--seeds`` ranges build the two sets a baseline
needs; ``--summarize`` reports a file without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) with Python's default quartiles."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def summarize(path: str, bounds: dict[str, float]) -> None:
    runs = [json.loads(line) for line in open(path) if line.strip()]
    ok = [r for r in runs if r.get("rc") == 0]
    print(f"{path}: {len(ok)} of {len(runs)} runs succeeded")
    if len(ok) < 2:
        return
    for name in ok[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in ok]
        med, spr = spread(vals)
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound}  spread/bound {spr / bound:.2f}"
        print(f"  {name:28s} median {med:14.4f}  spread {spr:.4f}{flag}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--summarize", action="store_true")
    args = p.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = args.out or os.path.join(HERE, ".out", f"runs-{args.workload}-{args.trace}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if not args.summarize:
        for seed in seed_range(args.seeds):
            cmd = bench["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            start = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - start
            lines = proc.stdout.strip().splitlines()
            rec = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
            rec.update({"seed": seed, "rc": proc.returncode, "wall_s": wall})
            if len(lines) >= 2:
                rec["env"] = json.loads(lines[0])["env"]
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"seed {seed}: rc {proc.returncode}, {wall:.1f} s wall", file=sys.stderr)
    summarize(out, bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
