#!/usr/bin/env python3
"""Count the OS processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py RUN.jfr...

Reads the recording's `jdk.ProcessStart` events through `jfr print --json`
(JDK 17+). A recording made with the default settings has them with stack
traces, e.g. `java -XX:StartFlightRecording=filename=RUN.jfr ...`. A JVM
that ends with `Runtime.halt` (the perfbench harness does) never writes
that file; record into a known repository instead and read its chunk,
which JFR flushes every second:

    JDK_JAVA_OPTIONS="-XX:StartFlightRecording \
      -XX:FlightRecorderOptions=repository=DIR" python3 perfbench/run.py ...
    python3 tools/jfr_forks.py DIR/*/*.jfr

Several files (a repository's chunks) are read as one recording. Prints
the total, then counts by command (program name), by thread (digits
folded to `N` and UUIDs to `<uuid>`, so pool and query threads group)
and by the first caller outside the JDK and Hadoop (the engine or Spark
frame whose file operation started the process).

A healthy engine run starts only a couple of one-off processes at start-up;
hundreds of `chmod`/`readlink` mean Hadoop's local filesystem is shelling
out again (see `graft.util.LocalFs`).
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

SKIP = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def jfr_binary():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_forks: no `jfr` tool on PATH or under $JAVA_HOME/bin")
    return found


def events(path):
    # `jfr print` cuts stacks to 5 frames unless told otherwise
    out = subprocess.run([jfr_binary(), "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frame_name(frame):
    m = frame["method"]
    cls = m["type"]["name"].replace("/", ".")
    return cls, f"{cls}.{m['name']}:{frame.get('lineNumber', -1)}"


def thread(ev):
    name = (ev["values"].get("eventThread") or {}).get("javaName") or "?"
    return re.sub(r"\d+", "N", re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", name))


def caller(ev):
    frames = (ev["values"].get("stackTrace") or {}).get("frames") or []
    for f in frames:
        cls, name = frame_name(f)
        if not cls.startswith(SKIP):
            return name
    return f"<JDK/Hadoop only, {len(frames)} frames>"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording", nargs="+")
    args = ap.parse_args()

    evs = [e for path in args.recording for e in events(path)]
    tables = {
        "command": collections.Counter(
            os.path.basename((e["values"].get("command") or "?").split(" ")[0]) for e in evs),
        "thread": collections.Counter(thread(e) for e in evs),
        "first non-Hadoop caller": collections.Counter(caller(e) for e in evs),
    }
    print(f"jdk.ProcessStart events: {len(evs)}")
    for title, counts in tables.items():
        print(f"\nby {title}:")
        for key, n in counts.most_common():
            print(f"  {n:7d}  {key}")


if __name__ == "__main__":
    main()
