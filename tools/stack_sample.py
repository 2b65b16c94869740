#!/usr/bin/env python3
"""Sample the thread stacks of a command's Spark JVM with jstack.

    python3 tools/stack_sample.py [--during REGEX] -- COMMAND [ARG ...]

Runs COMMAND, finds the newest `java` process among its descendants (the
JVM that runs Spark: a launcher such as sbt is older than the JVM it
forks), and takes `jstack` of it back to back until COMMAND exits. Each
jstack starts a small JVM of its own, which sets the interval; the mean
interval is reported (350-460 ms under live-loop on 4 cores).

Three thread groups are counted: Spark's executor task threads, the
`ChecksumCheckpointFileManager-*` threads that write state-store
checkpoint files, and the stream execution threads that write the
offsets and commits logs. For each group it counts the top frame of
every sampled thread, and the sampled threads whose stack holds Hadoop's
`Shell.runCommand` (which forks a process), keyed by that frame and its
first caller outside the JDK and Hadoop's shell helpers. With --during, only dumps in which some thread
has a frame matching that pattern count, e.g.
`perfbench\\.LiveLoop\\.measure` for live-loop's timed region.

Prints a text report to stderr. Exits with COMMAND's exit code.
"""
import argparse
import collections
import os
import re
import subprocess
import sys
import threading
import time

GROUPS = (
    ("executor-task", r"^Executor task launch worker"),
    ("checkpoint-fm", r"^ChecksumCheckpointFileManager-"),
    ("stream-exec", r"^stream execution thread"),
)
TOP = 12
FIND = r"^org\.apache\.hadoop\.util\.Shell\.runCommand"
THREAD_HEAD = re.compile(r'^"(?P<name>[^"]*)"')
FRAME = re.compile(r"^\s+at (?P<frame>\S+)")


def children_map():
    """pid -> (ppid, start ticks, comm) for every process in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is in parentheses and may hold spaces
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), int(rest[19]), comm)
    return out


def newest_java(root_pid):
    procs = children_map()
    kids = collections.defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        kids[ppid].append(pid)
    found, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs and procs[pid][2] == "java":
            found.append(pid)
        stack.extend(kids.get(pid, ()))
    return max(found, key=lambda p: procs[p][1]) if found else None


def parse_dump(text):
    """[(thread name, [frames, innermost first])]"""
    threads, name, frames = [], None, []
    for line in text.splitlines():
        head = THREAD_HEAD.match(line)
        if head:
            if name is not None:
                threads.append((name, frames))
            name, frames = head.group("name"), []
            continue
        frame = FRAME.match(line)
        if frame and name is not None:
            frames.append(frame.group("frame"))
    if name is not None:
        threads.append((name, frames))
    return threads


class Sampler:
    def __init__(self, child):
        self.child = child
        self.dumps = []  # (wall time, [(thread, frames)])
        self.done = threading.Event()

    def run(self):
        cmd = ["jstack", "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC"]
        while not self.done.is_set() and self.child.poll() is None:
            pid = newest_java(self.child.pid)
            if pid is not None:
                try:
                    r = subprocess.run(cmd + [str(pid)], capture_output=True,
                                       text=True, timeout=30)
                    if r.returncode == 0:
                        self.dumps.append((time.time(), parse_dump(r.stdout)))
                except (OSError, subprocess.SubprocessError):
                    pass
            else:
                time.sleep(0.1)  # the JVM has not started yet


def caller(frames):
    """The first frame outside the JDK and Hadoop's shell helpers."""
    return next((f for f in frames if not f.startswith(
        ("java.", "jdk.", "sun.", "org.apache.hadoop.util.Shell",
         "org.apache.hadoop.fs.FileUtil"))), "<none>")


def summarize(dumps, during):
    find_re, during_re = re.compile(FIND), during and re.compile(during)
    kept = [d for d in dumps if not during_re or any(
        during_re.search(f) for _, frames in d[1] for f in frames)]
    report = {"dumps": len(dumps), "dumps_counted": len(kept),
              "interval_ms": None, "groups": {}}
    if len(kept) > 1:
        span = kept[-1][0] - kept[0][0]
        report["interval_ms"] = round(1000 * span / (len(kept) - 1), 1)
    for label, pattern in GROUPS:
        name_re = re.compile(pattern)
        tops, hits, samples = collections.Counter(), collections.Counter(), 0
        for _, threads in kept:
            for name, frames in threads:
                if not name_re.search(name):
                    continue
                samples += 1
                tops[frames[0] if frames else "<no frame>"] += 1
                at = next((i for i, f in enumerate(frames)
                           if find_re.search(f)), None)
                if at is not None:
                    hits[f"{frames[at]} <- {caller(frames[at + 1:])}"] += 1
        report["groups"][label] = {
            "thread_samples": samples,
            "find_samples": sum(hits.values()),
            "find_callers": hits.most_common(TOP),
            "top_frames": tops.most_common(TOP)}
    return report


def render(report):
    lines = [f"dumps: {report['dumps']} taken, {report['dumps_counted']} "
             f"counted, mean interval {report['interval_ms']} ms"]
    for label, g in report["groups"].items():
        lines.append(f"{label}: {g['thread_samples']} thread samples, "
                     f"{g['find_samples']} in Shell.runCommand")
        lines += [f"  {n:6d}  found: {hit}" for hit, n in g["find_callers"]]
        lines += [f"  {n:6d}  {frame}" for frame, n in g["top_frames"]]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--during", default=None,
                    help="count only dumps where some frame matches this")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    command = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not command:
        ap.error("no command given")

    child = subprocess.Popen(command)
    sampler = Sampler(child)
    thread = threading.Thread(target=sampler.run, daemon=True)
    thread.start()
    try:
        rc = child.wait()
    except KeyboardInterrupt:
        child.terminate()
        rc = child.wait()
    sampler.done.set()
    thread.join()

    print(render(summarize(sampler.dumps, a.during)), file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
