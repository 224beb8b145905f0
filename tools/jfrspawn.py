#!/usr/bin/env python3
"""Summarize the process starts in a JFR recording: by command, by path
under a run root, by second, and by the first Hadoop, Spark or graft
caller on each start's stack.

Usage:
    jfr print --events jdk.ProcessStart --stack-depth 30 run.jfr > starts.txt
    python3 tools/jfrspawn.py starts.txt [--root DIR] [--top N]

Recording a benchmark run: `perfbench/run.py` starts one JVM per run, and
that JVM reads `JDK_JAVA_OPTIONS`. Run the workload once after a build
first: that run writes the workload's class-data-sharing archive and no
recording. Then record a second run:

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 25
    JDK_JAVA_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr \\
        python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 25

`--root` (default: the `.bench_build` directory of the current checkout)
is stripped from path arguments; digit runs in the remaining path are
folded to `N`, so `epoch=12/list_id=3` counts as `epoch=N/list_id=N`.
"""
import argparse
import os
import re
from collections import Counter

CALLER_PREFIXES = ("org.apache.hadoop.", "org.apache.spark.", "graft.")
# the frames that only launch the process, skipped when naming a caller
LAUNCHER_PREFIXES = ("java.", "jdk.", "org.apache.hadoop.util.Shell")


def events(path):
    """(start "HH:MM:SS.mmm", command, [frame method names]) per event."""
    ev, frames, in_stack = None, [], False
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if line.startswith("jdk.ProcessStart"):
                ev, frames, in_stack = {"start": "", "command": ""}, [], False
            elif ev is None:
                continue
            elif line.startswith("startTime ="):
                ev["start"] = line.split("=", 1)[1].strip()
            elif line.startswith("command ="):
                ev["command"] = line.split("=", 1)[1].strip().strip('"')
            elif line.startswith("stackTrace = ["):
                in_stack = True
            elif in_stack and line == "]":
                in_stack = False
            elif in_stack and line and line != "...":
                frames.append(line.split("(", 1)[0])
            elif line == "}":
                yield ev["start"], ev["command"], frames
                ev = None


def first_caller(frames, prefixes):
    for fr in frames:
        if fr.startswith(LAUNCHER_PREFIXES):
            continue
        if fr.startswith(prefixes):
            return fr
    return "(none within the recorded depth)"


def show(title, counter, top=None):
    """The `top` most common keys, or every key in key order."""
    print(f"\n{title}")
    rows = counter.most_common(top) if top else sorted(counter.items())
    for key, n in rows:
        print(f"{n:>7}  {key}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("printed", help="output of `jfr print --events jdk.ProcessStart`")
    ap.add_argument("--root", default=os.path.abspath(".bench_build"))
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    root = args.root.rstrip("/") + "/"
    by_cmd, by_path, by_second = Counter(), Counter(), Counter()
    by_caller, by_graft = Counter(), Counter()
    total = 0
    for start, command, frames in events(args.printed):
        total += 1
        words = command.split()
        by_cmd[os.path.basename(words[0]) if words else "(empty)"] += 1
        for w in words[1:]:
            if w.startswith(root):
                rel = os.path.dirname(w[len(root):]) or "."
                by_path[re.sub(r"\d+", "N", rel)] += 1
        by_second[start.split(".", 1)[0]] += 1
        by_caller[first_caller(frames, CALLER_PREFIXES)] += 1
        by_graft[first_caller(frames, ("graft.",))] += 1
    print(f"{total} process starts")
    show("by command", by_cmd, args.top)
    show(f"by directory under {root}", by_path, args.top)
    show("by second", by_second)
    show("by first Hadoop/Spark/graft caller", by_caller, args.top)
    show("by first graft caller", by_graft, args.top)


if __name__ == "__main__":
    main()
