#!/usr/bin/env python3
"""Round-over-round per-query regression self-audit (r12 verdict task 6).

Aligns the current bench_out.json (full-precision name->seconds maps)
against a prior round's archived BENCH_r{N}.json trailer and reports
every query whose MIN regressed by >= --threshold (default 1.5x), plus
the improvements at the same bar for symmetry. From the trailer it
reads only `qmin`, the decisecond min array in REGISTRY-NAME-SORTED
order, which every trailer form that keeps per-query data carries
(archived records from r11 on).

The prior trailer carries no names (the 1900-char tail budget), so the
alignment reconstructs them: the prior registry's name list is the
current bench_out.json's sorted names MINUS the names passed via
--new (queries added since that round) PLUS the names passed via
--removed (queries dropped since). If the reconstructed count does not
match the prior array length, the audit aborts loudly rather than
misalign.

CAVEAT (ADVICE r13): the alignment is POSITIONAL. A rename — or one
removal plus one addition both omitted from --new/--removed — keeps
the counts equal and silently misaligns every name between the two
sort positions. Two defenses: (a) the prior trailer's own n_queries
field is cross-checked against its qmin length and the reconstruction;
(b) pass --prior-correctness CORRECTNESS_r{N}.json (the prior round's
name-keyed correctness record, committed per round) and the
reconstructed name list is verified against its exact key set — this
DOES detect renames and is the recommended invocation.

Usage:
  python3 tools/regression_audit.py bench_out.json BENCH_r12.json \
      --new q303_... q304_... [--removed q0xx_...] \
      [--prior-correctness CORRECTNESS_r12.json] [--threshold 1.5]
"""
import argparse
import json
import sys


def load_prior(path):
    """The archived driver file may hold several JSON lines / a log
    tail, or the driver's wrapper object ({"tail": ..., "parsed": ...});
    take the LAST parseable object that carries qmin."""
    best = None
    with open(path) as f:
        raw = f.read()
    try:
        whole = json.loads(raw)
        if isinstance(whole, dict) and "parsed" in whole:
            if any(k in whole["parsed"] for k in ("qmin", "qmins", "mins")):
                return whole["parsed"]
        if isinstance(whole, dict) and "tail" in whole:
            raw = whole["tail"]
    except json.JSONDecodeError:
        pass
    for line in raw.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            # tolerate sbt "[info] {...}" prefixes
            i = line.find("{")
            if i < 0:
                continue
            line = line[i:]
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "qmin" in obj or "qmins" in obj or "mins" in obj:
            best = obj
    if best is None:
        sys.exit(f"no parseable bench object with mins in {path}")
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("current")
    ap.add_argument("prior")
    ap.add_argument("--new", nargs="*", default=[],
                    help="query names added since the prior round")
    ap.add_argument("--removed", nargs="*", default=[],
                    help="query names dropped since the prior round")
    ap.add_argument("--prior-correctness", default=None,
                    help="the prior round's CORRECTNESS_r{N}.json — its "
                         "name-keyed record verifies the reconstruction "
                         "exactly (detects renames positional alignment "
                         "cannot)")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    cur = json.load(open(args.current))
    cur_mins = cur.get("mins") or {}
    if not cur_mins:
        sys.exit("current bench_out.json carries no mins map")
    prior = load_prior(args.prior)

    if "mins" in prior:  # full-precision map (bench_out.json style)
        prior_mins = {k: float(v) for k, v in prior["mins"].items()}
    else:
        arr = prior.get("qmin") or []
        if not arr:
            sys.exit("prior record carries no qmin array")
        # invariant 1: the prior record's own n_queries field must
        # agree with its qmin length -- a truncated/corrupted tail
        # fails here instead of misaligning
        n_prior = prior.get("n_queries")
        if n_prior is not None and n_prior != len(arr):
            sys.exit(f"prior record inconsistent: n_queries={n_prior} "
                     f"but qmin has {len(arr)} entries -- truncated tail?")
        prior_names = sorted(
            set(n for n in cur_mins if n not in set(args.new))
            | set(args.removed))
        if len(prior_names) != len(arr):
            sys.exit(f"alignment failed: reconstructed {len(prior_names)} "
                     f"prior names vs {len(arr)} qmin entries -- pass the "
                     f"exact --new/--removed lists")
        # invariant 2 (detects renames, which counts cannot): the
        # prior round's committed correctness record carries the exact
        # registry name set
        if args.prior_correctness:
            pc = set(json.load(open(args.prior_correctness)))
            if set(prior_names) != pc:
                only_rec = sorted(set(prior_names) - pc)[:5]
                only_pc = sorted(pc - set(prior_names))[:5]
                sys.exit(f"reconstruction does not match "
                         f"{args.prior_correctness}: reconstructed-only "
                         f"{only_rec}, record-only {only_pc} -- a rename "
                         f"or an omitted --new/--removed entry")
        else:
            print("WARNING: positional alignment cannot detect renames "
                  "(or a paired add+remove omitted from --new/--removed); "
                  "pass --prior-correctness CORRECTNESS_r{N}.json to "
                  "verify the name set exactly", file=sys.stderr)
        # qmin: deciseconds, -1 = failed
        prior_mins = {n: v / 10.0 for n, v in zip(prior_names, arr) if v >= 0}

    regress, improve = [], []
    for name, prev in sorted(prior_mins.items()):
        now = cur_mins.get(name)
        if now is None or now < 0 or prev <= 0:
            continue
        r = now / prev
        if r >= args.threshold:
            regress.append((r, name, prev, now))
        elif r <= 1.0 / args.threshold:
            improve.append((r, name, prev, now))

    print(f"compared {len(prior_mins)} queries by MIN, "
          f"threshold {args.threshold}x")
    print(f"regressions >= {args.threshold}x: {len(regress)}")
    for r, n, a, b in sorted(regress, reverse=True):
        print(f"  {n}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")
    print(f"improvements >= {args.threshold}x: {len(improve)}")
    for r, n, a, b in sorted(improve):
        print(f"  {n}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")


if __name__ == "__main__":
    main()
