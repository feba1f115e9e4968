#!/usr/bin/env python3
"""Re-derives the frozen query pools of perfbench/workloads.json.

    python3 perfbench/freeze_pools.py [records.jsonl]

Runs every declared query at sf0.1 in one traced driver JVM (cold, then
once more when the cold run took under 2 s), or reads the records of
such a run, sorts queries into pools by the criteria kept in
workloads.json, and draws the floor workload's queries from the floor
pool. Pools and list
are committed so that a later change to a query's shape does not move it
between workloads; rerun this only to re-freeze them on purpose.
"""
import json
import shutil
import subprocess
import sys

import run


def survey():
    jvm_args = run.build()
    out = run.OUT / "survey"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java"] + jvm_args[:-2] + run.HEAP + jvm_args[-2:] + [
        "perfbench.Harness", "--workload", "survey", "--seed", "0", "--seconds", "0",
        "--trace", "1", "--out", str(out), "--data", str(run.DATA)]
    with open(out / "jvm.log", "w") as log:
        subprocess.run(cmd, cwd=out, stdout=log, stderr=log, check=True)
    return out / "records.jsonl"


def profile(recs):
    """Per query: best time, jobs launched before the drain, and task time
    over wall time."""
    jobs = [r for r in recs if r["kind"] == "job"]
    stages = [r for r in recs if r["kind"] == "stage"]
    best = {}
    for o in (r for r in recs if r["kind"] == "op" and r["ok"]):
        construct_jobs = sum(o["start"] <= j["start"] < o["mid"] for j in jobs)
        task_ms = sum(s["run_ms"] for s in stages if o["start"] <= s["start"] <= o["end"])
        row = {"name": o["name"], "ref_ms": round(o["ms"], 1),
               "construct_jobs": construct_jobs,
               "task_over_wall": round(task_ms / o["ms"], 3)}
        if o["name"] not in best or row["ref_ms"] < best[o["name"]]["ref_ms"]:
            best[o["name"]] = row
    return list(best.values())


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else survey()
    recs = []
    for line in open(path):
        recs.append(json.loads(line))
    rows = profile(recs)
    spec = json.loads((run.HERE / "workloads.json").read_text())
    c = spec["criteria"]
    multi = [r for r in rows if r["construct_jobs"] >= c["multi_round_min_construct_jobs"]]
    execb = [r for r in rows if r not in multi and r["task_over_wall"] >= c["exec_bound_min_task_over_wall"]]
    floor = [r for r in rows if r["construct_jobs"] == 0 and r["ref_ms"] < c["floor_max_ms"]]
    key = lambda r: r["name"]
    spec["pools"] = {"floor": sorted(floor, key=key), "multi_round": sorted(multi, key=key),
                     "exec_bound": sorted(execb, key=key)}
    # The floor workload: the pool sorted by time, cut into strata, and the
    # query at the middle of each, so the list spans cheap to costly.
    ranked = sorted(floor, key=lambda r: (r["ref_ms"], r["name"]))
    n = c["floor_queries"]
    spec["workloads"]["floor"]["queries"] = [
        ranked[(2 * i + 1) * len(ranked) // (2 * n)]["name"] for i in range(n)]
    (run.HERE / "workloads.json").write_text(json.dumps(spec, indent=1) + "\n")
    print({k: len(v) for k, v in spec["pools"].items()}, f"of {len(rows)} queries")


if __name__ == "__main__":
    main()
