#!/usr/bin/env python3
"""Summarize JFR execution samples by thread and by frame.

Usage:
    python3 tools/jfrsum.py REC [--thread REGEX] [--frame LABEL=REGEX ...]
                               [--stack-depth N] [--top K]

REC is a recording (`*.jfr`, printed here with `jfr print --events
jdk.ExecutionSample --stack-depth N`), a file holding that printed text, or
`-` for the text on stdin.

Prints two tables:
  - samples per thread, with task and query ids folded away, so every
    `Executor task launch worker for task ...` counts as one thread kind
    and the `stream execution thread for [...]` of every query as another;
  - for the threads whose folded name matches --thread (all by default),
    how many samples hold at least one frame matching each --frame regex
    (a frame reads `package.Class.method`). A sample may count under more
    than one label, and a label that matches nothing reads 0.

Without --frame, the second table lists the --top K frames by the number
of samples that hold them.

Example: what the stream thread of a trickle run spends on Spark's file
source and Hadoop's job configuration:

    python3 tools/jfrsum.py trickle.jfr --thread 'stream execution' \\
        --frame FileStreamSource='FileStreamSource' \\
        --frame 'new JobConf=JobConf\\.<init>' \\
        --frame findContainingJar='findContainingJar'
"""
import argparse
import collections
import re
import subprocess
import sys


def printed(rec, depth):
    """The text of `jfr print` for the recording or file `rec`."""
    if rec == "-":
        return sys.stdin.read()
    if rec.endswith(".jfr"):
        return subprocess.run(
            ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(depth), rec],
            check=True, capture_output=True, text=True).stdout
    with open(rec) as f:
        return f.read()


def samples(text):
    """(thread name, [frame, ...] innermost first) of each sample."""
    thread, frames, in_stack = None, [], False
    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif line.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)"', line)
            thread = m.group(1) if m else line
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line and line != "...":
            frames.append(re.sub(r"\(.*$", "", line))
        elif line == "}" and thread is not None:
            yield thread, frames
            thread = None


def fold(thread):
    """A thread's kind: its name without task, stage, query or pool ids."""
    return re.sub(r"\d+", "N", re.sub(r" for .*$", "", thread))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rec")
    ap.add_argument("--thread", default="", help="regex over folded thread names")
    ap.add_argument("--frame", action="append", default=[], metavar="LABEL=REGEX")
    ap.add_argument("--stack-depth", type=int, default=256)
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    rules = []
    for spec in args.frame:
        label, sep, rx = spec.partition("=")
        if not sep:
            ap.error(f"--frame takes LABEL=REGEX, got {spec!r}")
        rules.append((label, re.compile(rx)))

    threads = collections.Counter()
    picked = []
    for thread, frames in samples(printed(args.rec, args.stack_depth)):
        kind = fold(thread)
        threads[kind] += 1
        if re.search(args.thread, kind):
            picked.append(frames)

    total = sum(threads.values())
    print(f"{'samples':>8} {'share':>6}  thread")
    for kind, n in threads.most_common():
        print(f"{n:8d} {100 * n / max(total, 1):5.1f}%  {kind}")
    print()
    print(f"{len(picked)} samples on threads matching {args.thread!r}")
    if rules:
        counts = [(label, sum(1 for fs in picked if any(rx.search(f) for f in fs)))
                  for label, rx in rules]
    else:
        held = collections.Counter(f for fs in picked for f in set(fs))
        counts = held.most_common(args.top)
    for label, n in counts:
        print(f"{n:8d} {100 * n / max(len(picked), 1):5.1f}%  {label}")


if __name__ == "__main__":
    main()
