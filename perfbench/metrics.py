"""Statistics and metric derivation from the harness's raw record.

End-to-end metrics come from the untraced pass; per-layer metrics from
the traced pass's jobs, stages, planning phases, spans and stream
progress. Layers are named after the engine's packages.
"""
import math
import statistics

TAIL = 10  # a percentile is resolved only with this many samples beyond it


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    v = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def resolved(n, p):
    """True when at least TAIL samples lie beyond the p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n)) >= TAIL


def highest_resolved(n):
    """The highest whole percentile with at least TAIL samples beyond it,
    or None when the sample is too small for any."""
    for p in range(99, 0, -1):
        if resolved(n, p):
            return p
    return None


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    return (math.exp(sum(math.log(v) for v in values) / len(values))
            if values else 0.0)


def mean(values):
    return sum(values) / len(values) if values else 0.0


# ---------------------------------------------------------- end to end
def batch_mix_e2e(ops):
    """Per-run wall times of the timed repeats; each query's median over
    its repeats (the suite is their sum) and its best repeat."""
    per_q = {}
    for r in ops["runs"]:
        per_q.setdefault(r["query"], []).append(r["wall_ms"])
    medians = [median(v) for v in per_q.values()]
    return {"samples": [r["wall_ms"] for r in ops["runs"]],
            "query_best": [min(v) for v in per_q.values()],
            "suite_s": sum(medians) / 1000.0}


def _first_commit(progress, query, offset):
    for p in progress:
        if p["query"] == query and p["rows"] > 0 and p["end_offset"] >= offset:
            return p["end"]
    return None


def live_loop_e2e(ops, progress, verdict):
    """Freshness of each measured snapshot (due → end of the view batch
    that served it; due → its last alert send) and GET latency (due →
    response)."""
    vq, aq = ops["view_query"], ops["alert_query"]
    prog = sorted(progress, key=lambda p: p["end"])
    fresh_state, fresh_alert, unserved = [], [], 0
    sends = {}
    for pair, ts in verdict["seen"].items():
        j = verdict["expected"].get(pair)
        if j is not None:
            sends[j] = max(sends.get(j, float("-inf")), max(ts))
    for s in ops["snapshots"]:
        end = _first_commit(prog, vq, s["snapshot"])
        if end is None:
            unserved += 1
        else:
            fresh_state.append(end - s["due"])
        if s["snapshot"] in sends:
            fresh_alert.append(sends[s["snapshot"]] - s["due"])
    gets = [g["done"] - g["due"] for g in ops["gets"]]
    return {"fresh_state": fresh_state, "fresh_alert": fresh_alert,
            "get": gets, "unserved": unserved, "alert_query": aq}


def backfill_e2e(ops):
    b = ops["batches"]
    rows = sum(x["rows"] for x in b)
    secs = sum(x["end"] - x["start"] for x in b) / 1000.0
    return {"rows": rows, "seconds": secs,
            "rows_per_s": rows / secs if secs else 0.0,
            "batch_ms": [x["end"] - x["start"] for x in b]}


# ----------------------------------------------------------- per layer
def _span_chain(spans):
    """span id → the span and its ancestors, innermost first."""
    by_id = {s["id"]: s for s in spans}

    def chain(sid):
        out = []
        while sid and sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid]["parent"]
        return out
    return chain


def job_origins(trace, spans, roles, workload):
    """Count jobs by origin: 'stream:<role>' (carries the query id of a
    stream the harness started), 'span:<top-level phase>' (carries a
    harness span), 'get' (neither: live-loop's serving path), else
    'unattributed'."""
    chain = _span_chain(spans)
    out = {}
    for j in trace["jobs"]:
        if j["query"]:
            role = roles.get(j["query"])
            k = f"stream:{role}" if role else "unattributed"
        elif j["span"]:
            k = "span:" + chain(int(j["span"]))[-1]["name"]
        else:
            k = "get" if workload == "live-loop" else "unattributed"
        out[k] = out.get(k, 0) + 1
    return out


def self_times(spans):
    """Span time minus the time covered by its children, per span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _in(t, span):
    return span["start"] <= t <= span["end"]


def layers(workload, raw, derived, cores, verdict=None):
    """Every per-layer metric, computed from the traced record. Metrics of
    a layer the workload does not exercise read 0."""
    ops, trace, spans = raw["ops"], raw["trace"], raw["spans"]
    progress = raw["progress"]
    measure = next(s for s in spans if s["name"] == "measure")
    chain = _span_chain(spans)
    m = {}

    # queries + plans + operators over timed query runs (batch-mix)
    runs = [s for s in spans if s["name"] == "run"]
    run_ids = {s["id"] for s in runs}
    construct_ids = {s["id"] for s in spans if s["name"] == "construct"
                     and s["parent"] in run_ids}
    n_runs = len(runs)
    qruns = ops.get("runs", [])
    wall = sum(r["wall_ms"] for r in qruns)
    m["queries.construct_ms"] = mean([r["construct_ms"] for r in qruns])
    m["queries.action_ms"] = mean([r["action_ms"] for r in qruns])
    m["queries.construct_share"] = (
        sum(r["construct_ms"] for r in qruns) / wall if wall else 0.0)
    def in_run(x):
        return x["span"] and any(s["id"] in run_ids
                                 for s in chain(int(x["span"])))
    in_runs = [j for j in trace["jobs"] if in_run(j)]
    m["queries.construct_jobs"] = (sum(
        1 for j in in_runs if int(j["span"]) in construct_ids)
        / n_runs if n_runs else 0.0)
    plans = [p for p in trace["plans"] if any(_in(p["start"], r)
                                              for r in runs)]
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plans.{k}"] = sum(p[k] for p in plans) / n_runs if n_runs else 0.0
    m["plans.executions"] = len(plans) / n_runs if n_runs else 0.0

    # operators: every job/stage that ran inside the timed region,
    # per operation of the workload
    n_ops = {"batch-mix": n_runs,
             "live-loop": len(ops.get("snapshots", [])),
             "district-backfill": len(ops.get("batches", []))}[workload]
    if workload == "batch-mix":
        jobs = in_runs
        stages = [s for s in trace["stages"] if in_run(s)]
        window_ms = sum(r["end"] - r["start"] for r in runs)
    else:
        jobs = [j for j in trace["jobs"] if _in(j["start"], measure)]
        stages = [s for s in trace["stages"] if _in(s["start"], measure)]
        window_ms = measure["end"] - measure["start"]
    per = (lambda x: x / n_ops) if n_ops else (lambda x: 0.0)
    n_stages = len(stages)
    n_tasks = sum(s["tasks"] for s in stages)
    run_ms = sum(s["run_ms"] for s in stages)
    m["operators.jobs"] = per(len(jobs))
    m["operators.stages"] = per(n_stages)
    m["operators.tasks"] = per(n_tasks)
    m["operators.tasks_per_stage"] = n_tasks / n_stages if n_stages else 0.0
    m["operators.run_ms"] = per(run_ms)
    m["operators.cpu_ms"] = per(sum(s["cpu_ns"] for s in stages) / 1e6)
    m["operators.core_busy_share"] = (run_ms / (window_ms * cores)
                                      if window_ms else 0.0)
    m["operators.shuffle_read_bytes"] = per(
        sum(s["shuffle_read"] for s in stages))
    m["operators.shuffle_write_bytes"] = per(
        sum(s["shuffle_write"] for s in stages))
    m["operators.spill_bytes"] = per(sum(s["spill"] for s in stages))
    m["operators.task_gc_ms"] = per(sum(s["gc_ms"] for s in stages))

    # streaming + state + ingest: measured micro-batches of every stream
    roles = {}
    if workload == "live-loop":
        roles = {ops["view_query"]: "view", ops["alert_query"]: "alert"}
    elif workload == "district-backfill":
        roles = {p["query"]: "store" for p in progress}
    batches = [p for p in progress if p["rows"] > 0
               and _in(p["start"], measure)]
    nb = len(batches)

    def dur(k, bs=batches):
        return mean([b["duration_ms"].get(k, 0) for b in bs])
    m["streaming.batches"] = nb
    m["streaming.rows_per_batch"] = mean([b["rows"] for b in batches])
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    m["streaming.trigger_p50_ms"] = percentile(trig, 50) if trig else 0.0
    m["streaming.trigger_p90_ms"] = percentile(trig, 90) if trig else 0.0
    for k, name in (("addBatch", "add_batch_ms"),
                    ("queryPlanning", "query_planning_ms"),
                    ("walCommit", "wal_commit_ms"),
                    ("commitOffsets", "commit_offsets_ms"),
                    ("latestOffset", "latest_offset_ms")):
        m[f"streaming.{name}"] = dur(k)
    stream_jobs = [j for j in jobs if j["query"] in roles]
    m["streaming.jobs_per_batch"] = len(stream_jobs) / nb if nb else 0.0
    m["streaming.backlog_max"] = _backlog_max(ops, progress)
    m["ingest.rows_in"] = sum(b["rows"] for b in batches)
    trig_s = sum(trig) / 1000.0
    m["ingest.processed_rows_per_s"] = (m["ingest.rows_in"] / trig_s
                                        if trig_s else 0.0)
    ops_state = [so for b in batches for so in b["state"]]
    m["state.rows_total"] = mean([so["rows_total"] for so in ops_state])
    m["state.rows_updated"] = mean([so["rows_updated"] for so in ops_state])
    m["state.memory_bytes"] = mean([so["memory_bytes"] for so in ops_state])
    m["state.commit_ms"] = mean([so["commit_ms"] for so in ops_state])
    m["state.all_updates_ms"] = mean([so["all_updates_ms"]
                                      for so in ops_state])
    m["state.rocksdb_commit_ms"] = mean([sum(
        v for k, v in so["custom"].items()
        if k.startswith("rocksdbCommit") and "Latency" in k)
        for so in ops_state])
    view_batches = [b for b in batches if roles.get(b["query"]) in
                    ("view", "store")]
    view_jobs = [j for j in stream_jobs if roles.get(j["query"]) in
                 ("view", "store")]
    m["state.view_jobs_per_batch"] = (len(view_jobs) / len(view_batches)
                                      if view_batches else 0.0)
    store_stages = [s for s in stages if roles.get(s["query"]) == "store"]
    written = sum(s["bytes_written"] for s in store_stages)
    in_bytes = sum(b["bytes"] for b in ops.get("batches", []))
    m["state.bytes_written"] = written
    m["state.write_amp"] = written / in_bytes if in_bytes else 0.0

    # serve: jobs that carry neither a span nor a stream id
    gets = ops.get("gets", [])
    get_jobs = [j for j in jobs if not j["query"] and not j["span"]]
    get_stages = [s for s in stages if not s["query"] and not s["span"]]
    m["serve.gets"] = len(gets)
    m["serve.jobs_per_get"] = len(get_jobs) / len(gets) if gets else 0.0
    m["serve.run_ms_per_get"] = (sum(s["run_ms"] for s in get_stages)
                                 / len(gets) if gets else 0.0)
    m["serve.queue_ms"] = mean([g["sent"] - g["due"] for g in gets])
    m["serve.stale_bodies"] = (verdict["gets"].count("stale")
                               if verdict else 0)
    get_lat = derived.get("get", []) if workload == "live-loop" else []
    m["serve.get_p50_ms"] = percentile(get_lat, 50) if get_lat else 0.0

    # render: alert fanout
    if verdict:
        sent = sum(len(v) for v in verdict["seen"].values())
        exp = len(verdict["expected"])
    else:
        sent = exp = 0
    m["render.alerts_sent"] = sent
    m["render.alerts_expected"] = exp
    m["render.useful_ratio"] = exp / sent if sent else 0.0
    alert_batches = [b for b in batches if roles.get(b["query"]) == "alert"]
    m["render.alert_add_batch_ms"] = dur("addBatch", alert_batches)
    fresh = derived.get("fresh_alert", []) if workload == "live-loop" else []
    m["render.fresh_alert_p50_ms"] = percentile(fresh, 50) if fresh else 0.0

    # load generator and JVM
    late = [s["add_start"] - s["due"] for s in ops.get("snapshots", [])]
    late += [g["submitted"] - g["due"] for g in gets]
    m["load.late_p99_ms"] = percentile(late, 99) if late else 0.0
    m["jvm.gc_ms"] = raw["gc_ms"]
    m["jvm.rss_peak_mb"] = raw["rss_peak_kb"] / 1024.0
    origins = job_origins(trace, spans, roles, workload)
    m["trace.unattributed_jobs"] = origins.get("unattributed", 0)
    unresolved = []
    if late and not resolved(len(late), 99):
        unresolved.append("load.late_p99_ms")
    if trig and not resolved(len(trig), 90):
        unresolved.append("streaming.trigger_p90_ms")
    return m, unresolved, origins


def _backlog_max(ops, progress):
    """Most snapshots added but not yet committed by the view stream."""
    snaps = ops.get("snapshots")
    if not snaps:
        return 0
    vq = ops["view_query"]
    commits = sorted((p["end"], p["end_offset"]) for p in progress
                     if p["query"] == vq and p["rows"] > 0)
    worst = 0
    for s in snaps:
        done = max([off for t, off in commits if t <= s["add_end"]],
                   default=-1)
        worst = max(worst, s["snapshot"] - done)
    return worst
