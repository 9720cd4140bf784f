"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload crawl_full --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed (one after another, never two
Spark JVMs at once) and prints, per metric, the median and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median, next to the bound in BENCHMARK.json, plus each run's
wall time. Each run's stderr goes to ``--log-dir`` when given.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log-dir")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        log = (open(os.path.join(args.log_dir, f"{args.workload}-{seed}.err"), "w")
               if args.log_dir else contextlib.nullcontext(subprocess.DEVNULL))
        t0 = time.perf_counter()
        with log as err:
            out = subprocess.run(
                bench["command"] + ["--workload", args.workload, "--seed",
                                    str(seed), "--seconds", str(seconds),
                                    "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                check=True).stdout.strip().splitlines()[-1]
        walls.append(time.perf_counter() - t0)
        res = json.loads(out)
        print(f"seed {seed}: wall={walls[-1]:.1f}s correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, v in values.items():
        if len(v) < 2:
            continue
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:16s} median={med:.4g} spread={spread:.4f} "
              f"bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
