#!/usr/bin/env python3
"""Sample one JVM's thread stacks with jstack and count where time goes.

    python3 tools/stacksample.py <pid> [--interval 0.3] [--seconds S] [--top 15]
                                 [--threads REGEX] [--match REGEX]

Runs `jstack <pid>` every --interval seconds, for --seconds or until the
process exits, and prints the top --top entries of three counts over all
sampled threads (or those whose name matches --threads):
  - thread state (RUNNABLE, WAITING, ...);
  - thread name, digits folded to '#';
  - top non-JDK frame (the first frame outside java., javax., jdk., sun.).
With --match, it also counts the thread-samples that have a frame matching
REGEX, grouped by the first frame under the match that is outside the JDK
and the matched library (the first three name segments of its class, e.g.
org.apache.hadoop.): the caller that led there. For example
`--match org.apache.hadoop.util.Shell` names who forks processes through
Hadoop's Shell.

It attaches to the given process only and starts one jstack at a time.
"""
import argparse
import collections
import re
import subprocess
import sys
import time

JDK = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def snapshot(pid):
    """[(name, state, [frame, ...])] of one jstack dump, or None if it failed."""
    try:
        out = subprocess.run(["jstack", str(pid)], capture_output=True, text=True,
                             timeout=30).stdout
    except (OSError, subprocess.TimeoutExpired):
        return None
    threads, cur = [], None
    for line in out.splitlines():
        if line.startswith('"'):
            cur = [line[1:line.index('"', 1)], "", []]
            threads.append(cur)
        elif cur is None:
            continue
        elif line.strip().startswith("java.lang.Thread.State:"):
            cur[1] = line.split(":", 1)[1].split()[0]
        elif line.startswith("\tat "):
            cur[2].append(line[4:].strip())
    return threads if threads else None


def library_of(frame):
    """The first three name segments of the frame's class: org.apache.hadoop."""
    return ".".join(frame.split("(", 1)[0].split(".")[:3]) + "."


def caller(frames, hit, lib):
    """The first frame under frames[hit] outside the JDK and `lib`."""
    for f in frames[hit + 1:]:
        if not f.startswith(JDK) and not f.startswith(lib):
            return f
    return "(none)"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("pid", type=int)
    ap.add_argument("--interval", type=float, default=0.3)
    ap.add_argument("--seconds", type=float, default=0, help="0 = until the process exits")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--threads", default="", help="count only threads whose name matches")
    ap.add_argument("--match", default="", help="count stacks with a frame matching this")
    a = ap.parse_args()

    name_re = re.compile(a.threads) if a.threads else None
    match_re = re.compile(a.match) if a.match else None
    states, names, tops, callers = (collections.Counter() for _ in range(4))
    samples = thread_samples = matched = 0
    end = time.time() + a.seconds if a.seconds > 0 else float("inf")
    while time.time() < end:
        t0 = time.time()
        threads = snapshot(a.pid)
        if threads is None:
            break
        samples += 1
        for name, state, frames in threads:
            if name_re and not name_re.search(name):
                continue
            thread_samples += 1
            states[state or "(none)"] += 1
            names[re.sub(r"\d+", "#", name)] += 1
            tops[next((f for f in frames if not f.startswith(JDK)), "(jdk only)")] += 1
            if match_re:
                hit = next((i for i, f in enumerate(frames) if match_re.search(f)), None)
                if hit is not None:
                    matched += 1
                    callers[caller(frames, hit, library_of(frames[hit]))] += 1
        time.sleep(max(0.0, a.interval - (time.time() - t0)))

    print("pid=%d samples=%d thread_samples=%d" % (a.pid, samples, thread_samples))
    sections = [("thread state", states), ("thread name", names), ("top non-JDK frame", tops)]
    if match_re:
        sections.append(("caller of a frame matching %r (%d thread-samples)"
                         % (a.match, matched), callers))
    for title, counter in sections:
        print("== %s ==" % title)
        for key, n in counter.most_common(a.top):
            print("%7d  %s" % (n, key))
    return 0 if samples else 1


if __name__ == "__main__":
    sys.exit(main())
