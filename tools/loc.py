#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of src/main.

A comment line is one whose first non-blank characters are `//`, `*` or
`/*` (scaladoc bodies and line comments); a code line with a trailing
comment counts as code. Prints one `<count> <path>` line per Scala file,
largest first, then the total.

Usage: python3 tools/loc.py
"""
import os


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                n += 1
    return n


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(repo, "src", "main")
    counts = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts.append((count(p), os.path.relpath(p, root)))
    for n, p in sorted(counts, key=lambda c: (-c[0], c[1])):
        print(f"{n:6d} {p}")
    print(f"{sum(n for n, _ in counts):6d} total")


if __name__ == "__main__":
    main()
