#!/usr/bin/env python3
"""List engine definitions that no other main or bench code names.

    python3 tools/unreached.py [repo_root]

Scans the engine packages `operators`, `streaming`, `state`, `sources`,
`serve`, `render`, `functions` and `ingest` under `src/main/scala/graft`
for:

- top-level types (`object`, `class`, `trait`, `case class`), listed
  when nothing in `src/main/scala` or `perfbench/src` names them outside
  the bodies of the type and its companion;
- member `def`s, `val`s and `var`s (declared directly in a top-level body),
  listed when their name occurs nowhere in those trees except at the
  definition itself.

Comments and string literals are stripped first (the `${...}` parts of
interpolated strings are kept, since they are code), so a route such as
`"/district/*"` never reads as a comment opener and a name that only
occurs in prose or a message does not count as a use. `override`
members, `apply`/`unapply` and `main` are skipped: something outside
the source names them. Names are matched as whole words without
resolving types, so two members that share a name keep each other
listed as reached.

Prints one line per hit, `file:line name tests=<n>`, where n is the
number of files under `src/test/scala` that name it. Then prints the
line totals of `src/main/scala` to stderr: code lines are the lines
left non-blank by the same stripping, comment lines the other non-blank
lines (comments, and the inner lines of multi-line strings). Stdlib
only.
"""
import os
import re
import sys
from collections import Counter

ENGINE_PKGS = ("operators", "streaming", "state", "sources", "serve",
               "render", "functions", "ingest")
SKIP_MEMBERS = {"apply", "unapply", "main"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR_LIT = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
TOP_TYPE = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+"
    r"|implicit\s+|case\s+)*(object|class|trait)\s+([A-Za-z_]\w*)")
MEMBER = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|lazy\s+"
    r"|override\s+|@\w+\s+)*(def|val|var)\s+([A-Za-z_]\w*)")


def _skip_braced(src, i, out):
    """Copy the `{...}` expression starting at src[i] == '{' into out;
    return the index after its closing brace (nested braces counted)."""
    depth = 0
    while i < len(src):
        c = src[i]
        out.append(c)
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i


def strip(src):
    """Blank out comments and string/char literals, keeping newlines (so
    line numbers hold) and the code inside `${...}` interpolations."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            close = '"""' if triple else '"'
            i += len(close)
            while i < n and not src.startswith(close, i):
                if src[i] == "\\" and not triple:
                    i += 2
                    continue
                if interp and src.startswith("${", i):
                    out.append(" ")
                    i = _skip_braced(src, i + 1, out)
                    continue
                if interp and src[i] == "$":
                    m = IDENT.match(src, i + 1)
                    if m:
                        out.append(" " + m.group(0) + " ")
                        i = m.end()
                        continue
                if src[i] == "\n":
                    out.append("\n")
                i += 1
            if triple:  # a closing """ may be followed by more quotes
                while src.startswith('""""', i):
                    i += 1
            i += len(close)
            out.append('""')
        elif c == "'" and (m := CHAR_LIT.match(src, i)):
            i = m.end()
            out.append("' '")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root, rel):
    base = os.path.join(root, rel)
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def definitions(code):
    """[line, kind, name, last line] for top-level types (depth 0; the
    last line closes the body) and for the members declared directly in
    a top-level body (depth 1; last line = line)."""
    defs, depth, parens, open_type = [], 0, 0, None
    for ln, line in enumerate(code.split("\n"), 1):
        s = line.strip()
        if depth == 0:
            m = TOP_TYPE.match(s)
            if m:
                open_type = [ln, "type", m.group(2), ln]
                defs.append(open_type)
        elif depth == 1:
            m = MEMBER.match(s)
            if m and not re.search(r"\boverride\b", s[:m.start(1)]):
                defs.append([ln, "member", m.group(2), ln])
        depth += line.count("{") - line.count("}")
        parens += line.count("(") - line.count(")")
        if open_type:
            open_type[3] = ln
            if depth == 0 and parens == 0:
                open_type = None
    return defs


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(root, "src/main/scala")) + \
        list(scala_files(root, "perfbench/src"))
    stripped = {f: strip(open(f, encoding="utf-8").read())
                for f in main_files}
    per_file = {f: Counter(IDENT.findall(c)) for f, c in stripped.items()}
    total = Counter()
    for c in per_file.values():
        total.update(c)
    test_sets = [set(IDENT.findall(strip(open(f, encoding="utf-8").read())))
                 for f in scala_files(root, "src/test/scala")]

    engine = [f for f in main_files if any(
        os.sep + os.path.join("src", "main", "scala", "graft", p) + os.sep
        in f for p in ENGINE_PKGS)]
    for f in sorted(engine):
        rel = os.path.relpath(f, root)
        defs = definitions(stripped[f])
        lines = stripped[f].split("\n")
        for ln, kind, name, _ in defs:
            if kind == "type":
                own = [(a, b) for a, k, nm, b in defs
                       if k == "type" and nm == name]
                outside = "\n".join(l for i, l in enumerate(lines, 1)
                                    if not any(a <= i <= b for a, b in own))
                used = total[name] - per_file[f][name] > 0 or \
                    name in IDENT.findall(outside)
            else:
                used = name in SKIP_MEMBERS or total[name] > 1
            if not used:
                tests = sum(name in s for s in test_sets)
                print(f"{rel}:{ln} {name} tests={tests}")

    main_src = os.path.join(root, "src", "main", "scala") + os.sep
    code = comment = 0
    for f in main_files:
        if f.startswith(main_src):
            raw = open(f, encoding="utf-8").read().split("\n")
            for r, c in zip(raw, stripped[f].split("\n")):
                if c.strip():
                    code += 1
                elif r.strip():
                    comment += 1
    print(f"src/main/scala: {code} code lines, {comment} comment lines",
          file=sys.stderr)


if __name__ == "__main__":
    main()
