#!/usr/bin/env python3
"""Rebuild perfbench/query_costs.json, the batch-mix sampling frame.

    python3 perfbench/calibrate.py --seed 1 [--pool-only]

Times every registered query in batch-mix's regime on the tables of
--seed (the calibration seed), checks every output exactly as batch-mix
does, and records each query's timed and check seconds. A query leaves
the pool when it errors, when its output check fails, or when its timed
run or its check exceeds its cap (CAP_S, CHECK_CAP_S: a sample and its
checks must fit the run budget); each exclusion is written with its
reason. A family whose members all exceed a cap keeps its cheapest one,
so every family stays in the pool. Takes about half an hour; --pool-only
re-derives the pool from the stored measurements after a cap changes.
"""
import argparse
import json
import os
import shutil

import run

CHUNK = 18  # queries per calibration JVM: one batch-mix sample's worth
CAP_S = 1.0        # a pooled query's timed run, seconds
CHECK_CAP_S = 2.0  # a pooled query's output check, seconds


def pool(registry, costs, cap_s, check_cap_s):
    """The queries left out of the sampling frame, with the reason for
    each. A family whose members all exceed a cap keeps its cheapest one
    (run + check), so every family stays in the pool."""
    secs, checks_s = costs["seconds"], costs["check_seconds"]
    excluded = dict(costs["failures"])
    for q, v in secs.items():
        if v > cap_s and q not in excluded:
            excluded[q] = f"timed run {v} s exceeds the {cap_s} s cap"
    for q, v in checks_s.items():
        if v > check_cap_s and q not in excluded:
            excluded[q] = f"output check {v} s exceeds the {check_cap_s} s cap"
    fams = {}
    for q in registry:
        fams.setdefault(q["family"], []).append(q["name"])
    for members in fams.values():
        capped = [q for q in members if "cap" in excluded.get(q, "")]
        if all(q in excluded for q in members) and capped:
            del excluded[min(capped, key=lambda q: secs[q] + checks_s[q])]
    return excluded


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pool-only", action="store_true",
                    help="recompute the pool from the stored measurements")
    a = ap.parse_args()
    os.makedirs(run.WORK, exist_ok=True)
    cp, opts, registry = run.build(run.source_stamp())
    out = os.path.join(run.HERE, "query_costs.json")
    if a.pool_only:
        with open(out) as f:
            costs = json.load(f)
    else:
        costs = measure(a.seed, cp, opts, registry)
    costs.update({"cap_s": CAP_S, "check_cap_s": CHECK_CAP_S,
                  "excluded": pool(registry, costs, CAP_S, CHECK_CAP_S)})
    with open(out, "w") as f:
        json.dump(costs, f, indent=1, sort_keys=True)
    print(f"{len(costs['seconds'])} timed, {len(costs['excluded'])} "
          f"excluded -> {out}")


def measure(seed, cp, opts, registry):
    """Time every registered query the way batch-mix does: fresh JVMs of
    about one query per family (all queries dealt round-robin in family
    order), each query warmed up once and then timed twice; its cost is
    the faster timed run. Then every output check."""
    ordered = [q["name"] for q in sorted(registry,
                                         key=lambda q: (q["family"],
                                                        q["name"]))]
    n_chunks = -(-len(ordered) // CHUNK)
    chunks = [ordered[i::n_chunks] for i in range(n_chunks)]
    seconds, failures, results = {}, {}, []
    spec0, ctx = None, None
    for i, names in enumerate(chunks):
        run_dir = os.path.join(run.WORK, "runs", f"calibrate-s{seed}-{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        spec, ctx = run.inputs("batch-mix", seed, 0, run_dir, registry)
        spec.update({"queries": ",".join(names), "one_run": "",
                     "min_repeats": 2,
                     "max_repeats": 2, "workload": "batch-mix",
                     "seed": seed, "seconds": 1e6, "trace": 0,
                     "cpus": run.cpus(), "setup_cycles": 1, "work": run_dir,
                     "out": f"{run_dir}/raw.json"})
        with open(f"{run_dir}/spec.properties", "w") as f:
            for k, v in spec.items():
                f.write(f"{k}={v}\n")
        run.jvm(cp, opts, ["run", f"{run_dir}/spec.properties"],
                f"{run_dir}/harness.log", 900)
        with open(f"{run_dir}/raw.json") as f:
            raw = json.load(f)
        for r in raw["ops"]["runs"]:
            s = round(r["wall_ms"] / 1000.0, 3)
            seconds[r["query"]] = min(s, seconds.get(r["query"], s))
        for e in raw["ops"]["errors"]:
            failures[e["query"]] = "error: " + e["error"][:120]
        results.append((run_dir, names, raw["check"]["oracle_sql"]))
        print(f"chunk {i + 1}/{n_chunks} timed", flush=True)
    checks_s = {}
    for run_dir, names, oracle_sql in results:
        res = run.checks.batch_mix(run.ROOT, ctx["data"],
                                   os.path.join(run_dir, "results"),
                                   names, oracle_sql, run.cpus())
        for q, d in res.items():
            checks_s[q] = round(d["check_s"], 2)
            if not d["ok"] and q not in failures:
                failures[q] = "output check: " + d.get("why", "")[:120]
    return {"calibration_seed": seed, "cpus": run.cpus(),
            "seconds": seconds, "check_seconds": checks_s,
            "failures": failures}


if __name__ == "__main__":
    main()
