#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 graftbench/spread.py --workload cdc_backlog --seeds 1-10 --seconds 20

Prints, per metric, the median and the distance between the first and third
quartile as a share of the median (`statistics.quantiles(values, n=4)`), and
appends every run's result line to `.graftbench/spread.jsonl`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values, log = {}, BENCH.parent / ".graftbench" / "spread.jsonl"
    log.parent.mkdir(exist_ok=True)
    for seed in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-3000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": time.time() - t0,
                                 "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:40s} median {med:12.5g}  iqr/median {spread:.4f}  n={len(xs)}")


if __name__ == "__main__":
    main()
