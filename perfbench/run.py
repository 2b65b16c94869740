#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, outputs checked.

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the run's inputs from --seed, runs the harness JVM at
local[nproc], checks every output outside the timed region, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch-mix", "live-loop", "district-backfill")
# Engine switches that would change what is measured: refuse to run.
FORBIDDEN_ENV = ("SPARK_GRAFT_SHJ_THRESHOLD", "SPARK_GRAFT_ONLY",
                 "SPARK_STREAMBENCH_ONLY")
HARNESS_DEADLINE_S = 150  # a run must end within 180 s, checks included
BUILD_TIMEOUT_S = 700     # the first run in a checkout may take 900 s
SETUP_CYCLES = 3          # setup_s is the median of this many set-ups

# batch-mix
SF = 0.1
PER_FAMILY = 1
MIN_REPEATS, MAX_REPEATS = 2, 3
# live-loop
INTERVAL_MS = 200
WARMUP_SNAPSHOTS = 1
GET_RATE_PER_S = 1.5
SUBSCRIBERS = 60
# district-backfill
DAYS_PER_BATCH = 10
WARMUP_BATCHES = 1
MAX_BATCHES = 60


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The Tier-1 driver-memory rule: half of RAM, clamped to 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(stamp):
    """Compile engine + harness once per source state; returns the launch
    spec (classpath, engine JVM options) and the query registry."""
    launch = os.path.join(HERE, "target", "launch.txt")
    registry = os.path.join(WORK, "registry.json")
    stamp_file = os.path.join(WORK, "build.stamp")
    if (os.path.exists(launch) and os.path.exists(registry)
            and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        lines = open(launch).read().splitlines()
        return lines[0], lines[1:], json.load(open(registry))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "launchSpec"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, stdout=log,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed, see {WORK}/build.log")
    lines = open(launch).read().splitlines()
    cp, opts = lines[0], lines[1:]
    jvm(cp, opts, ["list", registry], os.path.join(WORK, "list.log"), 120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, opts, json.load(open(registry))


def jvm(cp, opts, args, log_path, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for o in opts if not o.startswith("-Xmx")]
    cmd = (["java", f"-Xmx{driver_mem()}"] + opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true",
            "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded its time limit, see {log_path}")
    if rc != 0:
        fail(f"harness exited {rc}, see {log_path}")


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())


def cpu_ticks():
    """(all, stolen) CPU ticks since boot from /proc/stat, or None. On a
    virtual machine, stolen ticks are time the host ran someone else on
    this machine's CPUs: the share stolen during a run shows how much a
    shared host slowed it."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def inputs(workload, seed, seconds, run_dir, registry):
    """Generate the run's inputs; returns (spec entries, context)."""
    if workload == "batch-mix":
        data = os.path.join(WORK, "data", f"sf{SF}-seed{seed}")
        if not os.path.exists(os.path.join(data, "_done")):
            shutil.rmtree(data, ignore_errors=True)
            os.makedirs(data)
            gen.tables(data, SF, seed)
            open(os.path.join(data, "_done"), "w").close()
        with open(os.path.join(HERE, "query_costs.json")) as f:
            pool = json.load(f)
        costs = pool["seconds"]
        exclude = set(pool["excluded"])
        qs = gen.sample_queries(registry, costs, seed, PER_FAMILY, exclude)
        # a family's only member left in the pool over the cap (Graph's
        # q265, 3 s) is timed once: twice would take a fifth of the run
        over = [q for q in qs if costs[q] > pool["cap_s"]]
        return {"sf_dir": data, "queries": ",".join(qs),
                "one_run": ",".join(over),
                "min_repeats": MIN_REPEATS, "max_repeats": MAX_REPEATS}, \
            {"data": data, "queries": qs, "run_dir": run_dir}
    if workload == "live-loop":
        n = WARMUP_SNAPSHOTS + int(seconds * 1000 / INTERVAL_MS) + 2
        snaps = gen.snapshots(seed, n)
        subs = gen.subscribers(seed, SUBSCRIBERS)
        write_lines(f"{run_dir}/frames.tsv", gen.snapshot_frames(snaps))
        write_lines(f"{run_dir}/gets.tsv", [
            f"{t}\t{p}" for t, p in gen.get_schedule(seed, GET_RATE_PER_S,
                                                     seconds)])
        write_lines(f"{run_dir}/prefs.tsv", [
            f"{u}\t{'|'.join(st)}\t{1 if on else 0}" for u, st, on in subs])
        return {"frames": f"{run_dir}/frames.tsv",
                "gets": f"{run_dir}/gets.tsv", "prefs": f"{run_dir}/prefs.tsv",
                "interval_ms": INTERVAL_MS,
                "warmup_snapshots": WARMUP_SNAPSHOTS}, \
            {"snaps": snaps, "subs": subs}
    write_lines(f"{run_dir}/frames.tsv",
                gen.district_batches(seed, MAX_BATCHES, DAYS_PER_BATCH))
    return {"frames": f"{run_dir}/frames.tsv",
            "warmup_batches": WARMUP_BATCHES}, {}


def _pcts(samples, fmt, div, tails):
    """p50 and p90 of a sample under the names `fmt.format(p)`, and the
    names the percentile rule leaves unresolved. `tails` gets the
    sample's size and highest resolved percentile with its value."""
    out, unresolved = {}, []
    for p in (50, 90):
        key = fmt.format(p)
        out[key] = metrics.percentile(samples, p) / div if samples else 0.0
        if not metrics.resolved(len(samples), p):
            unresolved.append(key)
    top = metrics.highest_resolved(len(samples))
    tails[fmt.split("_p{}")[0]] = {
        "n": len(samples), "p": top,
        "value": metrics.percentile(samples, top) / div if top else None}
    return out, unresolved


def evaluate(workload, raw, ctx, traced):
    """Checks + metrics: the generic end-to-end metrics (one primary
    latency per workload), the workload's named metrics, per-layer
    metrics on traced runs, and the check details."""
    ops = raw["ops"]
    verdict = None
    tails = {}
    named = {"setup_s": metrics.median(raw["setup_s"]),
             "rss_peak_mb": raw["rss_peak_kb"] / 1024.0}
    if workload == "batch-mix":
        res = checks.batch_mix(ROOT, ctx["data"],
                               os.path.join(ctx["run_dir"], "results"),
                               ctx["queries"], raw["check"]["oracle_sql"],
                               cpus())
        bad = {q for q, d in res.items() if not d["ok"]}
        bad |= {e["query"] for e in ops["errors"]}
        attempted = len(ops["runs"]) + len(ops["errors"])
        failed = sum(1 for r in ops["runs"] if r["query"] in bad) + \
            len(ops["errors"])
        d = metrics.batch_mix_e2e(ops)
        primary = d["query_best"]
        pct, unresolved = _pcts(d["samples"], "query_p{}_s", 1e3, tails)
        named.update(pct)
        named["suite_s"] = d["suite_s"]
        detail = {"checks": res, "errors": ops["errors"],
                  "queries": ctx["queries"]}
    elif workload == "live-loop":
        model = checks.LiveModel(ctx["snaps"])
        verdict = checks.live_loop(model, ctx["subs"], ops)
        d = metrics.live_loop_e2e(ops, raw["progress"], verdict)
        attempted = len(ops["gets"]) + len(ops["snapshots"])
        failed = sum(1 for v in verdict["gets"] if v != "ok") + \
            len(verdict["bad_snapshots"]) + verdict["unexpected"] + \
            d["unserved"]
        primary = d["fresh_state"]
        unresolved = []
        for name in ("fresh_state", "fresh_alert", "get"):
            pct, unres = _pcts(d[name], name + "_p{}_ms", 1.0, tails)
            named.update(pct)
            unresolved += unres
        detail = {"gets": {v: verdict["gets"].count(v)
                           for v in set(verdict["gets"])},
                  "alerts_missing": verdict["missing"],
                  "alerts_duplicate": verdict["duplicate"],
                  "alerts_unexpected": verdict["unexpected"],
                  "unserved_snapshots": d["unserved"]}
    else:
        c = raw["check"]
        d = metrics.backfill_e2e(ops)
        attempted = c["fed_rows"]
        failed = c["missing"] + c["unexpected"]
        primary = d["batch_ms"]
        named["ingest_rows_per_s"] = d["rows_per_s"]
        unresolved = []
        detail = {"check": c, "exhausted": ops["exhausted"]}
    e2e = {"setup_s": named["setup_s"],
           "latency_p50_ms": metrics.median(primary),
           "latency_geomean_ms": metrics.geomean(primary)}
    detail["samples"] = len(primary)
    detail["tails"] = tails
    lay = None
    if traced:
        lay, unres, detail["jobs_by_origin"] = metrics.layers(
            workload, raw, d, cpus(), verdict)
        unresolved += unres
    return attempted, failed, e2e, named, lay, unresolved, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    leaked = [k for k in FORBIDDEN_ENV if k in os.environ]
    if leaked:
        fail("refusing to run: " + ", ".join(leaked) + " set; these engine "
             "switches change what is measured. Unset them and rerun.")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not "
             "next to this benchmark; run it from a full checkout.")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp, opts, registry = build(stamp)
    t_start = time.monotonic()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(run_dir)
    spec, ctx = inputs(a.workload, a.seed, a.seconds, run_dir, registry)
    spec.update({"workload": a.workload, "seed": a.seed,
                 "seconds": a.seconds, "trace": a.trace, "cpus": cpus(),
                 "setup_cycles": SETUP_CYCLES, "work": run_dir,
                 "out": f"{run_dir}/raw.json"})
    with open(f"{run_dir}/spec.properties", "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    budget = HARNESS_DEADLINE_S - (time.monotonic() - t_start)
    ticks0 = cpu_ticks()
    jvm(cp, opts, ["run", f"{run_dir}/spec.properties"],
        f"{run_dir}/harness.log", budget)
    ticks1 = cpu_ticks()
    steal = ((ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
             if ticks0 and ticks1 else None)
    with open(f"{run_dir}/raw.json") as f:
        raw = json.load(f)
    attempted, failed, e2e, named, lay, unresolved, detail = evaluate(
        a.workload, raw, ctx, a.trace == 1)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": nproc(),
              "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
              "cpus": cpus(), "driver_mem": driver_mem(),
              "git_commit": git_commit(), "source_sha1": stamp,
              "steal_share": steal,
              "setup_s_cycles": raw["setup_s"], "measured_s": raw["measured_s"],
              "attempted": attempted, "failed": failed, "end_to_end": e2e,
              "named": named, "per_layer": lay, "unresolved": unresolved,
              "detail": detail}
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    base = os.path.join(records, f"{a.workload}-s{a.seed}")
    if a.trace:
        own = metrics.self_times(raw["spans"])
        record["spans"] = [dict(s, self_ms=own[s["id"]])
                           for s in raw["spans"]]
        if os.path.exists(base + "-t0.json"):
            with open(base + "-t0.json") as f:
                plain = json.load(f)
            both = dict(plain["end_to_end"], **plain["named"])
            record["tracing_overhead"] = {
                k: v - both[k] for k, v in dict(e2e, **named).items()
                if k in both}
    with open(f"{base}-t{a.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    names = declared["per_layer" if a.trace else "end_to_end"]
    source = lay if a.trace else e2e
    out = {n["name"]: {"value": source[n["name"]], "unit": n["unit"]}
           for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
