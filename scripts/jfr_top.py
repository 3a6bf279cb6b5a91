#!/usr/bin/env python3
"""Summarise a Java Flight Recording: hot frames on executor task threads and
the processes the JVM spawned.

    python3 scripts/jfr_top.py recording.jfr [--top 25] [--threads PREFIX]

Prints three tables:

- the top frames by self samples (the frame on top of the stack) among
  `jdk.ExecutionSample` events whose thread name starts with PREFIX
  (default: Spark's `Executor task launch worker`);
- the top frames by inclusive samples (anywhere on the stack, counted once
  per sample), same threads;
- `jdk.ProcessStart` events grouped by the program they ran, with one
  example command line each.

It reads the recording through the JDK's `jfr` tool (`jfr print --json`),
found beside `java` on the PATH or under `$JAVA_HOME/bin`. To record a run,
start the JVM with for example
`-XX:StartFlightRecording=filename=run.jfr,settings=profile`; for a JVM whose
command line you do not control, put that flag in `JAVA_TOOL_OPTIONS`.
"""

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

EXECUTOR_THREADS = "Executor task launch worker"


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if found:
        return found
    java = shutil.which("java")
    if java:
        cand = os.path.join(os.path.dirname(os.path.realpath(java)), "jfr")
        if os.path.exists(cand):
            return cand
    sys.exit("jfr_top: no `jfr` tool found (set JAVA_HOME to a JDK)")


def events(path, event_type):
    """The `values` of every event of one type in the recording."""
    out = subprocess.run([jfr_tool(), "print", "--json", "--events", event_type, path],
                         check=True, capture_output=True, text=True).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def frame_name(frame):
    method = frame.get("method") or {}
    owner = method.get("type") or {}
    cls = owner.get("name", "?") if isinstance(owner, dict) else str(owner)
    return f"{cls.replace('/', '.')}.{method.get('name', '?')}"


def thread_name(sample):
    t = sample.get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or ""


def table(title, counts, total, top):
    print(f"\n{title} ({total} samples)")
    for name, n in counts.most_common(top):
        print(f"{n:8d} {100.0 * n / max(total, 1):6.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--threads", default=EXECUTOR_THREADS,
                    help="thread-name prefix of the samples to count")
    args = ap.parse_args()

    self_counts = collections.Counter()
    incl_counts = collections.Counter()
    total = 0
    for s in events(args.recording, "jdk.ExecutionSample"):
        if not thread_name(s).startswith(args.threads):
            continue
        frames = [frame_name(f) for f in (s.get("stackTrace") or {}).get("frames", [])]
        if not frames:
            continue
        total += 1
        self_counts[frames[0]] += 1
        incl_counts.update(set(frames))
    table(f"self frames on '{args.threads}*' threads", self_counts, total, args.top)
    table(f"inclusive frames on '{args.threads}*' threads", incl_counts, total, args.top)

    spawns = collections.Counter()
    example = {}
    for p in events(args.recording, "jdk.ProcessStart"):
        command = p.get("command") or ""
        program = os.path.basename(command.split(" ", 1)[0]) if command else "?"
        spawns[program] += 1
        example.setdefault(program, command)
    print(f"\njdk.ProcessStart by program ({sum(spawns.values())} spawns)")
    for program, n in spawns.most_common():
        print(f"{n:8d}  {program:12s} e.g. {example[program][:100]}")


if __name__ == "__main__":
    main()
