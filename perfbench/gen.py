"""Seeded input generators for the three workloads.

Everything the measured program receives is made here from the run's
seed: the sf0.1 tables, the sampled query list, the live-loop snapshots,
subscribers and GET schedule, and the district history. The same seed
gives byte-identical inputs (see test_perfbench.py).
"""
import datetime as dt
import json
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)

# ---------------------------------------------------------------- tables
# Row counts per unit scale factor and value domains of the synthetic
# star schema + events/documents/embeddings the registered queries read.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(rng, lo, hi, n, whole_days):
    """n timestamps uniform in [lo, hi] as datetime64[us]."""
    a = int((lo - EPOCH).total_seconds() * 1e6)
    b = int((hi - EPOCH).total_seconds() * 1e6)
    us = rng.integers(a, b + 1, n)
    if whole_days:
        us -= us % 86_400_000_000
    return us.astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet",
                   compression="snappy")


def tables(out, sf, seed):
    """Write the ten tables at scale factor `sf` into directory `out`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1),
                           dt.datetime(2001, 8, 1), n_ord, True),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105_000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2),
                          dt.datetime(2001, 11, 4), n_li, True)})
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.sort(_ts(rng, dt.datetime(2024, 1, 1),
                          dt.datetime(2024, 1, 30, 23, 59, 59), n_ev, False)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, n)]))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64), "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = rng.normal(0, 1, (n_emb, 64)) + 0.6 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# ------------------------------------------------------------- batch-mix
def sample_queries(registry, costs, seed, per_family, exclude=(),
                   candidates=64):
    """Seeded, family-stratified, cost-balanced sample.

    Inside each registry family the eligible queries are ordered by
    reference cost and cut into `per_family` strata of consecutive cost;
    each stratum contributes one query, drawn at a cost quantile taken
    from a Latin hypercube over all strata, so every family is
    represented. Of `candidates` such draws the seed keeps the one whose
    reference costs are closest, in sum and in median, to the pool's
    expectation (a balanced sample): runs on different seeds time
    different queries at nearly the same expected cost. The sample runs
    in family order, so a query's place in the JVM's warm-up does not
    depend on the seed."""
    rnd = random.Random(seed)
    fams = {}
    for q in registry:
        if q["name"] not in exclude:
            fams.setdefault(q["family"], []).append(q["name"])
    default = sorted(costs.values())[len(costs) // 2] if costs else 1.0

    def cost(n):
        return costs.get(n, default)
    strata = []
    for fam in sorted(fams):
        names = sorted(fams[fam], key=lambda n: (cost(n), n))
        k = min(per_family, len(names))
        strata += [names[s * len(names) // k:(s + 1) * len(names) // k]
                   for s in range(k)]
    want_sum = sum(statistics.mean(map(cost, st)) for st in strata)
    want_med = statistics.median(cost(n) for st in strata for n in st)

    def draw():
        slots = list(range(len(strata)))
        rnd.shuffle(slots)
        return [st[min(len(st) - 1, int((slot + rnd.random()) / len(strata)
                                        * len(st)))]
                for st, slot in zip(strata, slots)]

    def score(sample):
        c = [cost(n) for n in sample]
        return (abs(sum(c) - want_sum) / want_sum
                + abs(statistics.median(c) - want_med) / want_med)
    return min((draw() for _ in range(candidates)), key=score)


# ------------------------------------------------------------- live-loop
STATES = [
    "Andaman and Nicobar Islands", "Andhra Pradesh", "Arunachal Pradesh",
    "Assam", "Bihar", "Chandigarh", "Chhattisgarh", "Daman and Diu",
    "Dadra and Nagar Haveli", "Delhi", "Goa", "Gujarat",
    "Haryana", "Himachal Pradesh", "Jammu and Kashmir", "Jharkhand",
    "Karnataka", "Kerala", "Ladakh", "Lakshadweep", "Madhya Pradesh",
    "Maharashtra", "Manipur", "Meghalaya", "Mizoram", "Nagaland", "Odisha",
    "Puducherry", "Punjab", "Rajasthan", "Sikkim", "Tamil Nadu", "Telangana",
    "Tripura", "Uttar Pradesh", "Uttarakhand", "West Bengal",
    "State Unassigned", "Total"]
SNAP_BASE = dt.datetime(2020, 4, 1)
SNAP_STEP_H = 2  # event-time hours between snapshots: 12 snapshots a day


def _code(state):
    return "TT" if state == "Total" else "".join(
        w[0] for w in state.split()[:2]).upper()


def snapshots(seed, n):
    """n statewise snapshots of the 38 states + Total (39 keys).

    Snapshot s raises a state's confirmed count by a value unique to s
    (7s+1..7s+7), so every alert line names its snapshot; about one state
    in seven does not move at all. Returns, per snapshot, the list of
    (state, event_ms, confirmed, deaths, recovered) with cumulative
    counts."""
    rnd = random.Random(seed * 7919 + 11)
    states = STATES[:-1]
    cum = {s: [0, 0, 0] for s in states}
    out = []
    for s in range(n):
        t = SNAP_BASE + dt.timedelta(hours=SNAP_STEP_H * s)
        ms = int((t - EPOCH).total_seconds() * 1000)
        rows = []
        for st in states:
            c = cum[st]
            if s == 0:
                c[0] = rnd.randint(10_000, 60_000)
                c[1] = rnd.randint(0, c[0] // 20)
                c[2] = rnd.randint(0, c[0] // 2)
            elif rnd.random() >= 1 / 7:
                c[0] += 7 * s + rnd.randint(1, 7)
                c[1] += rnd.randint(0, 3)
                c[2] += rnd.randint(0, 10)
            rows.append((st, ms) + tuple(c))
        tot = [sum(cum[st][k] for st in states) for k in range(3)]
        rows.append(("Total", ms) + tuple(tot))
        out.append(rows)
    return out


def snapshot_frames(snaps):
    """TSV frames: snapshot, event-time ms, StatewiseStats JSON (all
    numerics as strings, the reference's wire shape)."""
    lines = []
    for i, rows in enumerate(snaps):
        for st, ms, c, d, r in rows:
            when = (EPOCH + dt.timedelta(milliseconds=ms)).strftime(
                "%d/%m/%Y %H:%M:%S")
            value = json.dumps({
                "active": str(c - d - r), "confirmed": str(c),
                "deaths": str(d), "recovered": str(r), "state": st,
                "statecode": _code(st), "lastupdatedtime": when},
                separators=(",", ":"))
            lines.append(f"{i}\t{ms}\t{value}")
    return lines


def subscribers(seed, n_users=60):
    """Fixed subscriber set: each user follows 1-4 states; one in ten is
    unsubscribed."""
    rnd = random.Random(seed * 104729 + 3)
    states = STATES[:-1]
    out = []
    for u in range(n_users):
        follows = rnd.sample(states, rnd.randint(1, 4))
        out.append((f"u{u:03d}", follows, rnd.random() >= 0.1))
    return out


def get_schedule(seed, rate_per_s, seconds):
    """Open-loop GET schedule: fixed-rate due times; about one in ten is
    `/summary`, the rest `/state/<key>` over the 39 keys."""
    rnd = random.Random(seed * 15485863 + 5)
    out = []
    step = 1000.0 / rate_per_s
    for i in range(int(seconds * rate_per_s)):
        if rnd.random() < 0.1:
            path = "/summary"
        else:
            path = "/state/" + rnd.choice(STATES).replace(" ", "%20")
        out.append((round(i * step, 3), path))
    return out


# ----------------------------------------------------- district-backfill
DISTRICTS_PER_STATE = 20  # 37 states x 20 = 740 districts


def districts():
    return [(st, f"{st} D{j:02d}") for st in STATES[:-2]
            for j in range(DISTRICTS_PER_STATE)]


def district_batches(seed, n_batches, days_per_batch):
    """History of daily districtwise snapshots, `days_per_batch` days of
    every district per batch. Returns TSV frames: batch, event-time ms,
    DistrictwiseData JSON."""
    rnd = random.Random(seed * 49979687 + 7)
    ds = districts()
    cum = {d: [rnd.randint(0, 500), 0, 0] for d in ds}
    base = dt.datetime(2020, 3, 1)
    lines = []
    for b in range(n_batches):
        for k in range(days_per_batch):
            day = b * days_per_batch + k
            ms = int((base + dt.timedelta(days=day) - EPOCH).total_seconds()
                     * 1000)
            for st, name in ds:
                c = cum[(st, name)]
                c[0] += rnd.randint(0, 40)
                c[1] += rnd.randint(0, 2)
                c[2] += rnd.randint(0, 30)
                c[2] = min(c[2], c[0] - c[1])
                value = json.dumps({
                    "state": st, "district": name, "confirmed": str(c[0]),
                    "active": str(c[0] - c[1] - c[2]),
                    "recovered": str(c[2]), "deceased": str(c[1]),
                    "deltaConfirmed": "0", "deltaRecovered": "0",
                    "deltaDeceased": "0", "notes": ""},
                    separators=(",", ":"))
                lines.append(f"{b}\t{ms}\t{value}")
    return lines
