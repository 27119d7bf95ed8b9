#!/usr/bin/env python3
"""Compare `graft.PlanDump` before/after plan pairs modulo run-specific ids.

Usage: python3 tools/plan_diff.py <dir> [key ...]

For each `<key>_before.txt` / `<key>_after.txt` pair in <dir> (every pair
found when no key is named) prints `SAME <key>` or `DIFF <key>` followed by
a unified diff of the normalised texts. Exits 1 if any pair differs or a
named key lacks one of its two files.

Normalised before comparing:
  - expression ids: `#123`, `#123L`
  - exchange/plan ids: `plan_id=123`
  - lambda-variable counters of the Column API: `x_16`, `y_3`, `z_9`
  - temp-dir suffixes: the random digits `Files.createTempDirectory`
    appends (`graft_stream_ann_3117383821616325377`) and UUIDs
  - JVM lambda instances in typed-Dataset operator arguments
    (`$$Lambda$3483/0x00007ff2ed115180@786d8b3b`): class counter, hidden
    class address and identity hash all change from one JVM to the next
"""
import difflib
import re
import sys
from pathlib import Path

RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"(?<=_)\d{8,}\b"), "N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda$N"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
     "UUID"),
]


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    root = Path(argv[1])
    keys = argv[2:] or sorted(
        p.name[: -len("_before.txt")] for p in root.glob("*_before.txt"))
    failed = False
    for key in keys:
        before, after = root / f"{key}_before.txt", root / f"{key}_after.txt"
        missing = [p.name for p in (before, after) if not p.is_file()]
        if missing:
            print(f"MISSING {key}: {', '.join(missing)}")
            failed = True
            continue
        a = normalise(before.read_text()).splitlines()
        b = normalise(after.read_text()).splitlines()
        if a == b:
            print(f"SAME {key}")
            continue
        failed = True
        print(f"DIFF {key}")
        sys.stdout.writelines(
            line + "\n" for line in difflib.unified_diff(
                a, b, before.name, after.name, lineterm="", n=1))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
