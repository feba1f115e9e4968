#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end metric's
median and quartile spread against its bound.

    python3 perfbench/spread.py --workload floor [--seeds 1-10] [--trace 0]

A metric is steady when its spread, (Q3 - Q1) / median over the seeds,
stays below a third of its bound in BENCHMARK.json. setup_s has no
spread limit, only its bound between two sets of runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

import run
import stats


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads(run.BENCHMARK.read_text())
    values, walls = {}, []
    for seed in a.seeds:
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                              "--trace", str(a.trace)], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr}")
        line = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={line['correct']} "
              f"failed={line['failed']}/{line['attempted']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()), flush=True)
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{a.workload}: wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, v in values.items():
        if len(v) < 2:
            continue
        s = stats.spread(v) if statistics.median(v) else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if s < b / 3 else "WIDE" if s > b else "over b/3")
        print(f"  {k:24s} median {statistics.median(v):12.4f}  spread {s:6.3f}  {flag}")


if __name__ == "__main__":
    main()
