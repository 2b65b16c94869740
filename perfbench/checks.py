"""Output checks, run after the harness JVM exits (outside the timed
region). Every mismatch counts as a failed operation."""
import datetime as dt
import glob
import os
import sys
import time
from decimal import ROUND_HALF_UP, Decimal

import gen


def _verify_local(root):
    """The repo's oracle rendering (tools/verify_local.py): type-sensitive
    cell rendering, columns sorted by name, rows sorted, md5 over all."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import verify_local
    return verify_local


def fingerprint(df, vl):
    """Order-insensitive result fingerprint: (columns, rows, md5)."""
    cols, rows = vl.frame_rows(df)
    return cols, rows, vl.frame_hash(rows)


def batch_mix(root, data_dir, results_dir, queries, oracle_sql, threads):
    """Oracled queries must hash-match DuckDB on the same tables;
    `no_oracle` queries must return rows. Returns {query: detail}, each
    with the seconds its check took."""
    import duckdb
    import pandas as pd
    vl = _verify_local(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    out = {}
    for q in queries:
        t0 = time.monotonic()
        out[q] = _check_one(q, results_dir, oracle_sql.get(q), con, vl, pd)
        out[q]["check_s"] = time.monotonic() - t0
    return out


def _check_one(q, results_dir, sql, con, vl, pd):
    files = sorted(glob.glob(f"{results_dir}/{q}/*.parquet"))
    if not files:
        return {"ok": False, "why": "no output"}
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    cols, rows, h = fingerprint(got, vl)
    detail = {"rows": len(rows), "fingerprint": h}
    if sql is None:
        detail["ok"] = len(rows) > 0
        if not detail["ok"]:
            detail["why"] = "no_oracle query returned no rows"
        return detail
    try:
        exp = con.execute(sql).fetchdf()
        types = dict(con.execute(f"DESCRIBE {sql}").fetchdf()
                     [["column_name", "column_type"]].values)
    except Exception as e:  # noqa: BLE001 - reported as a failure
        return {"ok": False, "why": f"oracle error: {e}"}
    # DuckDB converts DATE to midnight Timestamps; Spark's parquet side
    # reads datetime.date (tools/verify_local.py does the same mapping)
    for c, ty in types.items():
        if ty.upper() == "DATE" and c in exp.columns:
            exp[c] = exp[c].map(lambda v: v.date()
                                if isinstance(v, pd.Timestamp) else v)
    ecols, erows, eh = fingerprint(exp, vl)
    detail["ok"] = (ecols, eh) == (cols, h)
    if not detail["ok"]:
        detail["why"] = (f"columns {ecols} vs {cols}" if ecols != cols
                         else f"hash mismatch ({len(erows)} oracle rows vs "
                              f"{len(rows)})")
    return detail


# ------------------------------------------------------------- live-loop
def java_double(x):
    """Double.toString of an integral double (the endpoint's rendering)."""
    x = float(x)
    if x == 0:
        return "0.0"
    if 1e-3 <= abs(x) < 1e7:
        return repr(x) if "." in repr(x) else repr(x) + ".0"
    digits = str(abs(int(x))).rstrip("0") or "0"
    exp = len(str(abs(int(x)))) - 1
    mant = digits[0] + "." + (digits[1:] or "0")
    return ("-" if x < 0 else "") + f"{mant}E{exp}"


def spark_round(x):
    """Spark's round(double, 0): HALF_UP on the decimal rendering."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _day(ms):
    return (gen.EPOCH + dt.timedelta(milliseconds=ms)).date()


class LiveModel:
    """The generator's prediction of the served view after each snapshot:
    day-grain sums of each key's running confirmed delta, reduced to the
    serving row (latest day's total, change vs the previous day, doubling
    rate) exactly as LiveServing.servingRows defines it."""

    def __init__(self, snaps):
        self.keys = [r[0] for r in snaps[0]]
        self.rows = []      # per snapshot: {key: body}
        self.summary = []   # per snapshot: /summary body
        self.deltas = []    # per snapshot: {key: (dc, dd, dr)}
        daily = {k: {} for k in self.keys}
        prev = {k: (0, 0, 0) for k in self.keys}
        for rows in snaps:
            d = {}
            for k, ms, c, dd, r in rows:
                p = prev[k]
                d[k] = (c - p[0], dd - p[1], r - p[2])
                prev[k] = (c, dd, r)
                day = _day(ms)
                daily[k][day] = daily[k].get(day, 0.0) + float(c - p[0])
            self.deltas.append(d)
            served = {k: self._row(k, daily[k]) for k in self.keys}
            self.rows.append({k: v[1] for k, v in served.items()})
            order = sorted(self.keys, key=lambda k: (-served[k][0], k))
            self.summary.append("[" + ",".join(served[k][1] for k in order)
                                + "]")

    @staticmethod
    def _row(key, days):
        last = max(days)
        total = days[last]
        before = [d for d in days if d < last]
        delta = total - (days[max(before)] if before else 0.0)
        rate = 0 if delta == 0 or total == 0 else spark_round(
            70.0 * total / (100.0 * delta))
        body = (f'{{"state":"{key}","day":"{last.isoformat()}",'
                f'"total":{java_double(total)},"delta":{java_double(delta)},'
                f'"doubling_rate":{rate}}}')
        return total, body

    def body(self, path, j):
        if path == "/summary":
            return self.summary[j]
        key = path[len("/state/"):].replace("%20", " ")
        return self.rows[j].get(key)

    def alerts(self, j, subs):
        """Expected (user, line) pairs of snapshot j (AlertFormat's
        deltaAlertLine over the subscribed users' states)."""
        out = []
        for k, (dc, dd, dr) in self.deltas[j].items():
            if k.lower() == "total":
                continue
            parts = []
            if dc > 0:
                parts.append(f"{dc} new {'case' if dc == 1 else 'cases'}")
            if dd > 0:
                parts.append(f"{dd} {'death' if dd == 1 else 'deaths'}")
            if dr > 0:
                parts.append(
                    f"{dr} {'recovery' if dr == 1 else 'recoveries'}")
            if not parts:
                continue
            line = ", ".join(parts) + f" in {k}\n"
            out += [(u, line) for u, states, on in subs if on and k in states]
        return out


def live_loop(model, subs, ops):
    """Classify every GET (ok / stale / wrong / error) and every alert
    (exactly once per expected line)."""
    gets = []
    for g in ops["gets"]:
        lo, hi = g["committed_at_send"], g["added_at_done"]
        verdict = "error"
        if g["status"] == 200:
            ok = any(model.body(g["path"], j) == g["body"]
                     for j in range(max(lo, 0), hi + 1))
            stale = not ok and any(model.body(g["path"], j) == g["body"]
                                   for j in range(0, max(lo, 0)))
            verdict = "ok" if ok else "stale" if stale else "wrong"
        gets.append(verdict)
    first = ops["first_measured"]
    measured = [s["snapshot"] for s in ops["snapshots"]]
    expected = {}
    for j in measured:
        for pair in model.alerts(j, subs):
            expected[pair] = j
    seen = {}
    for a in ops["alerts"]:
        pair = (a["user"], a["text"])
        seen.setdefault(pair, []).append(a["t"])
    missing = [p for p in expected if p not in seen]
    dup = [p for p, ts in seen.items() if p in expected and len(ts) > 1]
    unexpected = [p for p in seen if p not in expected]
    bad_snaps = {expected[p] for p in missing + dup}
    return {"gets": gets, "expected": expected, "seen": seen,
            "missing": len(missing), "duplicate": len(dup),
            "unexpected": len(unexpected), "bad_snapshots": sorted(bad_snaps),
            "first_measured": first}
