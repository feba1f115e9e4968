#!/usr/bin/env python3
"""The graft benchmark: one workload, one driver JVM, one JSON line.

    python3 perfbench/run.py --workload floor|pipelines --seed N \
        --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt, a source dependency on the
graft build at the repository root) when any of its sources changed,
runs the workload, checks every output it produced, and prints as the
last line of stdout {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, read from Spark's listener bus during the odd
timed passes of the run. Build log, run records, check output and
the spans of traced runs go under .bench_build/ at the repository root.
Workloads, pools and pinned check values are in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
DATA = HERE / "data" / "sf0.1"
SMALL = HERE / "data" / "sf0.01"
SPEC = json.loads((HERE / "workloads.json").read_text())
BENCHMARK = ROOT / "BENCHMARK.json"
# The heap starts at 2 GB instead of the JVM's default of 1/64 of memory:
# grown on demand, its size depended on each run's GC history, and so did
# the speed of the passes.
HEAP = ["-Xms2g", "-Xmx4g"]
RUN_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def sources():
    """Every file the harness build reads: graft's build and main sources,
    and the harness's own."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def build():
    """Returns the harness's JVM arguments, building it if they are stale."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the graft build (build.sbt, src/main/scala/graft) is not next to perfbench/")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    args_file = OUT / f"launch-{h.hexdigest()[:16]}.args"
    if not args_file.exists():
        OUT.mkdir(exist_ok=True)
        # Resolve only from the local caches and the user's repository
        # list: the build must not reach the network.
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.override.build.repos" not in opts:
            env["SBT_OPTS"] = f"{opts} -Dsbt.override.build.repos=true -Dsbt.offline=true".strip()
        with open(OUT / "build.log", "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            fail(f"harness build failed; see {OUT / 'build.log'}")
        shutil.copy(HERE / "target" / "launch.args", args_file)
    return args_file.read_text().splitlines()


# ------------------------------------------------------------- workload

def run_harness(workload, seed, seconds, trace, run_dir, jvm_args):
    cmd = (["java"] + jvm_args[:-2] + HEAP + jvm_args[-2:] +
           ["perfbench.Harness", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--out", str(run_dir),
            "--data", str(DATA), "--small", str(SMALL)])
    queries = SPEC["workloads"][workload].get("queries")
    if queries:
        cmd += ["--ops", ",".join(queries)]
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness did not finish in {RUN_TIMEOUT_S} s; see {run_dir / 'jvm.log'}")
    if code != 0:
        fail(f"harness exited with {code}; see {run_dir / 'jvm.log'}")
    return [json.loads(line) for line in open(run_dir / "records.jsonl")]


# --------------------------------------------------------------- checks

def canon(v):
    """Type-tagged, order-free cell value (the rules of tools/compare.py):
    floats rounded to 9 places with the sign of zero kept, NaN as NULL."""
    import decimal
    import math
    import numpy as np
    if v is None:
        return (0, "")
    if isinstance(v, (list, np.ndarray)):
        return (3, tuple(canon(x) for x in v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return (0, "")
        r = round(f, 9)
        return (1, r, 1 if r == 0.0 and math.copysign(1.0, f) < 0 else 0)
    if isinstance(v, (bool, np.bool_, int, np.integer)):
        return (1, int(v), 0)
    return (2, str(v))


def digest(df):
    """Row count and an order-insensitive hash of a frame's sorted columns."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(canon(v) for v in r) for r in df.itertuples(index=False))
    return len(rows), hashlib.sha256(repr((list(df.columns), rows)).encode()).hexdigest()


def oracle_digests(oracle):
    """Digest of each oracle twin's DuckDB result. The result depends only
    on the SQL and the committed tables, so it is cached per checkout,
    keyed by the SQL text: some twins take DuckDB many seconds."""
    cache = OUT / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    con, out = None, {}
    for name, sql in oracle.items():
        path = cache / (hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
        if not path.exists():
            if con is None:
                import duckdb
                con = duckdb.connect()
                for p in sorted(DATA.glob("*.parquet")):
                    con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            path.write_text(json.dumps(digest(con.sql(sql).df())))
        out[name] = tuple(json.loads(path.read_text()))
    return out


def check_queries(run_dir, names, log):
    """Each query's set-up output against its DuckDB oracle twin."""
    import pandas as pd
    oracle = json.loads((run_dir / "oracle.json").read_text())
    want = oracle_digests({n: oracle[n] for n in names})
    bad = []
    for name in names:
        files = sorted((run_dir / "check" / name).glob("*.parquet"))
        got = digest(pd.concat([pd.read_parquet(f) for f in files])) if files else None
        log.write(f"{'OK  ' if got == want[name] else 'FAIL'} {name}: spark={got} duckdb={want[name]}\n")
        if got != want[name]:
            bad.append(name)
    return bad


def check_pinned(checks, log):
    """Harness-side checks, and their counts against the pinned values."""
    bad = []
    for c in checks:
        pinned = SPEC["pinned"].get(c["name"], {})
        diff = {k: (c.get(k), v) for k, v in pinned.items() if c.get(k) != v}
        ok = c["ok"] and not diff
        log.write(f"{'OK  ' if ok else 'FAIL'} {c['name']}: {json.dumps(c)} mismatches={diff}\n")
        if not ok:
            bad.append(c["name"])
    return bad


# -------------------------------------------------------------- metrics

TIMED = {"query", "recsys"}


def timed_ops(recs, passes):
    ids = {p["pass"] for p in passes}
    return [r for r in recs if r["kind"] == "op" and r["type"] in TIMED and r["pass"] in ids]


def clean_passes(recs, traced):
    """Timed passes of one kind in which every op succeeded."""
    failed = {r["pass"] for r in recs if r["kind"] == "op" and not r["ok"]}
    return [r for r in recs if r["kind"] == "pass" and r["traced"] == traced
            and r["pass"] not in failed]


def end_to_end(recs):
    passes = clean_passes(recs, traced=False)
    ops = timed_ops(recs, passes)
    times = [o["ms"] for o in ops]
    if not times:
        fail("no timed op succeeded")
    tail_ms, pct, beyond = stats.tail(times)
    info = {"passes": len(passes), "op_samples": len(times), "op_tail_ms": round(tail_ms, 3),
            "op_tail_percentile": round(pct, 2), "op_tail_beyond": beyond}
    setup = next(r for r in recs if r["kind"] == "setup")
    return {
        "setup_s": setup["s"],
        "pass_s": stats.median_pass([(o["name"], o["ms"]) for o in ops]) / 1000,
        "op_p50_ms": statistics.median(times),
    }, info


def per_pass_layers(recs, p, cores):
    """Per-layer totals of one traced pass, from the listener's records."""
    ops = [r for r in recs if r["kind"] == "op" and r["pass"] == p["pass"]]
    in_pass = lambda t: t is not None and p["start"] <= t <= p["end"]
    jobs = [r for r in recs if r["kind"] == "job" and in_pass(r["start"])]
    stages = [r for r in recs if r["kind"] == "stage" and in_pass(r["start"])]
    qes = [r for r in recs if r["kind"] == "qe" and in_pass(r["at"])]
    job_spans = [(j["start"], j["end"]) for j in jobs]
    m = dict.fromkeys(["construct.s", "construct.jobs", "construct.busy_s",
                       "execute.s", "execute.jobs", "execute.busy_s",
                       "plan.analysis_ms", "plan.optimize_ms", "plan.physical_ms",
                       "plan.exchanges", "recsys.run_s", "recsys.drain_s"], 0)
    for o in ops:
        for phase, lo, hi in (("construct", o["start"], o["mid"]), ("execute", o["mid"], o["end"])):
            m[f"{phase}.jobs"] += sum(lo <= j["start"] < hi for j in jobs)
            m[f"{phase}.busy_s"] += stats.covered(job_spans, lo, hi) / 1000
        m["construct.s"] += o["first_ms"] / 1000
        m["execute.s"] += (o["ms"] - o["first_ms"]) / 1000
        for q in qes:
            if o["mid"] <= q["at"] <= o["end"]:
                m["plan.analysis_ms"] += q["analysis_ms"]
                m["plan.optimize_ms"] += q["optimize_ms"]
                m["plan.physical_ms"] += q["physical_ms"]
                m["plan.exchanges"] += q["exchanges"]
        if o["type"] == "recsys":
            m["recsys.run_s"] += o["first_ms"] / 1000
            m["recsys.drain_s"] += (o["ms"] - o["first_ms"]) / 1000
    m["construct.idle_s"] = max(0.0, m["construct.s"] - m["construct.busy_s"])
    m["execute.idle_s"] = max(0.0, m["execute.s"] - m["execute.busy_s"])
    total = lambda k: sum(s[k] for s in stages)
    m.update({
        "stages": len(stages),
        "tasks": total("tasks"),
        "task.run_s": total("run_ms") / 1000,
        "task.cpu_s": total("cpu_ms") / 1000,
        "task.gc_s": total("gc_ms") / 1000,
        "task.failed": total("failed_tasks"),
        "stage.retried": sum(s["attempt"] > 0 for s in stages),
        "slot_util": total("run_ms") / (p["ms"] * cores),
        "shuffle.write_mb": total("shuffle_write_b") / 2**20,
        "shuffle.read_mb": total("shuffle_read_b") / 2**20,
        "spill_mb": total("spill_b") / 2**20,
        "scan.input_mb": total("input_b") / 2**20,
        "driver.gc_s": p["gc_ms"] / 1000,
        "driver.live_heap_mb": p["live_heap_mb"],
    })
    return m


def per_layer(recs):
    cores = next(r for r in recs if r["kind"] == "setup")["cores"]
    traced = clean_passes(recs, traced=True)
    plain = [p for p in clean_passes(recs, traced=False) if p["pass"] > 0]  # 0 is the coldest
    if not traced or not plain:
        fail("a traced run needs a clean traced and a clean untraced pass after the first")
    rows = [per_pass_layers(recs, p, cores) for p in traced]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    build = [r for r in recs if r["kind"] == "op" and r["type"] == "serve_build" and r["ok"]]
    index = [r for r in recs if r["kind"] == "serve_index"]
    m["serve.build_s"] = build[0]["ms"] / 1000 if build else 0.0
    m["serve.index_mb"] = index[0]["mb"] if index else 0.0
    m["serve.cells"] = index[0]["cells"] if index else 0
    m["probe.failed"] = sum(not r["ok"] for r in recs if r["kind"] == "op" and r["type"] == "probe")
    m["trace.overhead_ratio"] = (statistics.median(p["ms"] for p in traced) /
                                 statistics.median(p["ms"] for p in plain))
    return m


def spans(recs):
    """The traced passes as spans: op, its construct and execute phases,
    the jobs started in each phase, the stages of each job, and the query
    executions planned in each phase. Spans of one op share its trace id."""
    traced = {p["pass"] for p in recs if p["kind"] == "pass" and p["traced"]}
    out, phases = [], []
    for i, o in enumerate(r for r in recs if r["kind"] == "op" and r["pass"] in traced):
        tid = f"op{i}"
        out.append({"id": tid, "parent": None, "trace": tid, "name": f"{o['type']}:{o['name']}",
                    "start": o["start"], "end": o["end"], "ok": o["ok"]})
        for ph, lo, hi in (("construct", o["start"], o["mid"]), ("execute", o["mid"], o["end"])):
            phases.append((lo, hi, f"{tid}.{ph}", tid))
            out.append({"id": f"{tid}.{ph}", "parent": tid, "trace": tid, "name": ph,
                        "start": lo, "end": hi})

    def phase_of(t):
        return next(((sid, tid) for lo, hi, sid, tid in phases if lo <= (t or 0) <= hi),
                    (None, None))

    def span(r, sid, parent, tid):
        fields = {k: v for k, v in r.items() if k not in ("kind", "id")}
        return dict(fields, id=sid, name=r["kind"], parent=parent, trace=tid)

    job_of_stage = {}
    for r in recs:
        if r["kind"] == "job":
            out.append(span(r, f"job{r['id']}", *phase_of(r["start"])))
            job_of_stage.update({s: (f"job{r['id']}", out[-1]["trace"]) for s in r["stages"]})
    for r in recs:
        if r["kind"] == "stage":
            parent = job_of_stage.get(r["id"]) or phase_of(r["start"])
            out.append(span(r, f"stage{r['id']}.{r['attempt']}", *parent))
        elif r["kind"] == "qe":
            out.append(span(r, None, *phase_of(r["at"])))
    return out


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jvm_args = build()
    run_dir = OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    t0 = time.monotonic()
    recs = run_harness(a.workload, a.seed, a.seconds, a.trace, run_dir, jvm_args)

    t_jvm = time.monotonic() - t0
    ops = [r for r in recs if r["kind"] == "op" and r["type"] != "probe"]
    with open(run_dir / "checks.log", "w") as log:
        queries = [r["name"] for r in ops if r["type"] == "check" and r["ok"]]
        mismatched = (check_queries(run_dir, queries, log) if queries else []) + \
            check_pinned([r for r in recs if r["kind"] == "check"], log)
    if not mismatched:  # outputs are kept only for a failed check
        for d in ("check", "serve_index"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
    errors = [r for r in ops if not r["ok"]]
    for r in errors:
        print(f"perfbench: {r['type']} {r['name']} failed: {r['error']}", file=sys.stderr)
    for r in mismatched:
        print(f"perfbench: {r} output failed its check; see {run_dir / 'checks.log'}",
              file=sys.stderr)
    for r in (r for r in recs if r["kind"] == "op" and r["type"] == "probe"):
        state = "still fails: " + r["error"] if not r["ok"] else "now answers"
        print(f"perfbench: known-defect probe {r['name']} {state}", file=sys.stderr)

    if a.trace:
        metrics = per_layer(recs)
        (OUT / "spans").mkdir(exist_ok=True)
        path = OUT / "spans" / f"{a.workload}-s{a.seed}.json"
        path.write_text(json.dumps(spans(recs)))
        print(f"perfbench: spans in {path}", file=sys.stderr)
    else:
        metrics, info = end_to_end(recs)
        print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: harness {t_jvm:.1f} s, "
          f"checks {time.monotonic() - t0 - t_jvm:.1f} s", file=sys.stderr)
    declared = json.loads(BENCHMARK.read_text())["per_layer" if a.trace else "end_to_end"]
    if sorted(metrics) != sorted(m["name"] for m in declared):
        fail(f"metrics {sorted(metrics)} differ from {BENCHMARK.name}")
    print(json.dumps({
        "correct": not mismatched and not any(r["type"] == "check" for r in errors),
        "attempted": len(ops),
        "failed": len(errors) + len(mismatched),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
