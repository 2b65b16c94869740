#!/usr/bin/env python3
"""Per-stream breakdown of one traced perfbench run.

    python3 tools/stream_breakdown.py .perfbench/runs/live-loop-s101-t1/raw.json

`perfbench/metrics.py` averages every stream of a run together (on
live-loop, the view and the alert stream). This splits the measured
micro-batches by stream role (`view`, `alert` on live-loop; `store` on
district-backfill) and prints, per role:

- the batch count, rows per batch, and the mean of each `durationMs`
  component, with the `triggerExecution` median;
- Spark jobs and stages per batch, then each stage position within a
  batch (1st, 2nd, ... by start time) with its mean tasks and run ms;
- per state operator (by its position in the progress record), the mean
  rows, update and commit ms, and every RocksDB `Commit*`/`Load`
  latency that is non-zero in some batch.

Batches are those with input rows that started inside the `measure`
span, as in `metrics.py`. Reads the record only; stdlib only.
"""
import argparse
import json
from collections import defaultdict


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    s = sorted(xs)
    if not s:
        return 0.0
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def roles_of(raw):
    ops = raw["ops"]
    if "view_query" in ops:
        return {ops["view_query"]: "view", ops["alert_query"]: "alert"}
    return {p["query"]: "store" for p in raw["progress"]}


def is_rocksdb_latency(name):
    return name.startswith("rocksdbCommit") or (
        name.startswith("rocksdbLoad") and "Latency" in name)


def breakdown(raw):
    """Yield the report's lines."""
    measure = next(s for s in raw["spans"] if s["name"] == "measure")
    roles = roles_of(raw)
    batches = [p for p in raw["progress"] if p["rows"] > 0
               and measure["start"] <= p["start"] <= measure["end"]
               and p["query"] in roles]
    measured = {(p["query"], str(p["batch"])) for p in batches}
    jobs, stages = defaultdict(int), defaultdict(list)
    for j in raw["trace"]["jobs"]:
        if (j["query"], str(j["batch"])) in measured:
            jobs[j["query"], str(j["batch"])] += 1
    for s in raw["trace"]["stages"]:
        if (s["query"], str(s["batch"])) in measured:
            stages[s["query"], str(s["batch"])].append(s)

    for role in sorted(set(roles.values())):
        bs = [p for p in batches if roles[p["query"]] == role]
        if not bs:
            continue
        keys = [(p["query"], str(p["batch"])) for p in bs]
        yield (f"== {role}: {len(bs)} batches, "
               f"{mean([p['rows'] for p in bs]):.1f} rows/batch")
        comps = sorted({k for p in bs for k in p["duration_ms"]})
        yield "  durationMs mean: " + ", ".join(
            f"{k} {mean([p['duration_ms'].get(k, 0) for p in bs]):.0f}"
            for k in comps)
        trig = [p["duration_ms"].get("triggerExecution", 0) for p in bs]
        yield f"  triggerExecution p50: {median(trig):.0f}"
        tasks = [sum(s["tasks"] for s in stages[k]) for k in keys]
        run_ms = [sum(s["run_ms"] for s in stages[k]) for k in keys]
        yield (f"  per batch: {mean([jobs[k] for k in keys]):.2f} jobs, "
               f"{mean([len(stages[k]) for k in keys]):.2f} stages, "
               f"{mean(tasks):.1f} tasks, {mean(run_ms):.0f} run ms")
        by_pos = defaultdict(list)
        for k in keys:
            for i, s in enumerate(sorted(stages[k], key=lambda s: s["start"])):
                by_pos[i].append(s)
        for i in sorted(by_pos):
            ss = by_pos[i]
            yield (f"    stage {i + 1} (in {len(ss)}/{len(bs)} batches): "
                   f"{mean([s['tasks'] for s in ss]):.1f} tasks, "
                   f"{mean([s['run_ms'] for s in ss]):.0f} run ms")
        ops = defaultdict(list)
        for p in bs:
            for i, so in enumerate(p["state"]):
                ops[i].append(so)
        for i in sorted(ops):
            sos = ops[i]
            yield (f"  state op {i}: rows_total "
                   f"{mean([so['rows_total'] for so in sos]):.0f}, "
                   f"rows_updated {mean([so['rows_updated'] for so in sos]):.1f}, "
                   f"all_updates_ms {mean([so['all_updates_ms'] for so in sos]):.0f}, "
                   f"commit_ms {mean([so['commit_ms'] for so in sos]):.0f}")
            names = sorted({k for so in sos for k, v in so["custom"].items()
                            if is_rocksdb_latency(k) and v})
            for k in names:
                yield (f"    {k}: "
                       f"{mean([so['custom'].get(k, 0) for so in sos]):.0f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("raw", help="a traced run's raw.json")
    args = ap.parse_args()
    with open(args.raw) as f:
        raw = json.load(f)
    for line in breakdown(raw):
        print(line)


if __name__ == "__main__":
    main()
