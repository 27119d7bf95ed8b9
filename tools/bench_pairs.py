#!/usr/bin/env python3
"""Alternating parent/change perfbench pairs from two clean checkouts.

Usage (from the repository root):
    python3 tools/bench_pairs.py --parent REV [--change REV] \\
        --workload curate --seeds 1-10 [--trace 0] --out plans/prN/bench_pairs.jsonl
    python3 tools/bench_pairs.py --summarize plans/prN/bench_pairs.jsonl

Each side is a `git archive` of its revision, unpacked under --scratch
(default .bench_pairs/ under the repository root) and built by
its own first `python3 perfbench/run.py`, so the two sides share no
`target/` or `.bench_build/` state. --change defaults to the working tree,
taken as `git add -A` would record it (ignored files stay out).

For each seed, one pair runs both sides with the benchmark's own
`run_seconds`; the side that runs first alternates from pair to pair.
Every run appends one JSON line to --out: workload, seed, trace, pair,
side, revision, order, load average before the run, wall seconds and
the run's result line. The summary reads every line of the file and
prints, per workload, trace mode and metric, each side's median and
quartiles and the change's win count (ties count for neither side).
For an end-to-end metric of BENCHMARK.json it also gives the verdict:
  GAIN       the change wins at least 9/10 of the pairs and its median
             beats the parent's by more than the parent's quartile spread;
  WORSE      the change's median is worse than the parent's by more than
             the metric's bound;
  UNRESOLVED the parent's quartile spread is wider than the bound and
             not every change run beats every parent run;
  flat       otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def resolve(rev):
    """The tree to benchmark: a revision's, or the working tree's as
    `git add -A` would record it (through a throwaway index, so the
    real index stays as it is). A tree id is stable for unchanged
    content, so a rerun reuses its checkout and build."""
    if rev is not None:
        return git("rev-parse", rev + "^{tree}")
    index = os.path.join(git("rev-parse", "--absolute-git-dir"), "bench_pairs.index")
    env = dict(os.environ, GIT_INDEX_FILE=index)
    try:
        subprocess.run(["git", "add", "-A"], cwd=ROOT, env=env, check=True)
        return subprocess.run(["git", "write-tree"], cwd=ROOT, env=env, check=True,
                              capture_output=True, text=True).stdout.strip()
    finally:
        if os.path.exists(index):
            os.remove(index)


def checkout(sha, scratch):
    """Unpack tree `sha` once into its own dir under `scratch`."""
    d = os.path.join(scratch, sha[:12])
    done = os.path.join(d, ".unpacked")
    if not os.path.isfile(done):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        open(done, "w").close()
    return d


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_one(d, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=d, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is None:
        print(p.stderr[-2000:], file=sys.stderr)
    return time.time() - t0, result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(rows, spec):
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    groups = {}
    for r in rows:
        if r["result"] is None:
            continue
        groups.setdefault((r["workload"], r["trace"]), {}) \
            .setdefault((r["seed"], r["pair"]), {})[r["side"]] = r["result"]
    for (workload, trace), pairs in sorted(groups.items()):
        pairs = [p for p in pairs.values() if "parent" in p and "change" in p]
        fails = {s: sum(p[s]["failed"] for p in pairs) for s in ("parent", "change")}
        print(f"== {workload} trace={trace}: {len(pairs)} pairs, "
              f"failed ops parent={fails['parent']} change={fails['change']}")
        names = sorted({n for p in pairs for s in p.values() for n in s["metrics"]})
        for name in names:
            ps = [p["parent"]["metrics"].get(name, {}).get("value") for p in pairs]
            cs = [p["change"]["metrics"].get(name, {}).get("value") for p in pairs]
            if None in ps or None in cs or (not any(ps) and not any(cs)):
                continue
            up = better.get(name, "lower") == "higher"
            wins = sum(1 for a, b in zip(ps, cs) if (b > a if up else b < a))
            pq1, pm, pq3 = quartiles(ps)
            cq1, cm, cq3 = quartiles(cs)
            line = (f"  {name:36s} parent {pm:12.3f} [{pq1:.3f}, {pq3:.3f}]  "
                    f"change {cm:12.3f} [{cq1:.3f}, {cq3:.3f}]  wins {wins}/{len(pairs)}")
            if name in e2e and not trace:
                gain = (cm - pm) if up else (pm - cm)
                bound = e2e[name].get("bound")
                if wins * 10 >= 9 * len(pairs) and gain > pq3 - pq1:
                    verdict = "GAIN"
                elif bound is not None and -gain > bound * abs(pm):
                    verdict = "WORSE"
                elif bound is not None and pq3 - pq1 > bound * abs(pm) and not (
                        min(cs) > max(ps) if up else max(cs) < min(ps)):
                    verdict = "UNRESOLVED"
                else:
                    verdict = "flat"
                line += f"  {verdict}"
            print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change", help="revision; default: the working tree")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--scratch", default=os.path.join(ROOT, ".bench_pairs"))
    ap.add_argument("--summarize", metavar="JSONL", help="only print the summary of a file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    out = args.summarize or args.out
    if not out:
        ap.error("--out or --summarize is required")
    if not args.summarize:
        if not (args.parent and args.workload):
            ap.error("--parent and --workload are required to run pairs")
        sides = {"parent": resolve(args.parent), "change": resolve(args.change)}
        dirs = {s: checkout(sha, args.scratch) for s, sha in sides.items()}
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        for i, seed in enumerate(seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for pos, side in enumerate(order):
                load = load1()
                wall, result = run_one(dirs[side], args.workload, seed,
                                       spec["run_seconds"], args.trace)
                row = {"workload": args.workload, "seed": seed, "trace": args.trace,
                       "pair": i, "side": side, "rev": sides[side], "order": pos,
                       "load1_before": load, "wall_s": round(wall, 1), "result": result}
                with open(out, "a") as fh:
                    fh.write(json.dumps(row) + "\n")
                tp = (result or {}).get("metrics", {}).get("throughput_per_s", {}).get("value")
                print(f"[pairs] {args.workload} seed={seed} {side}: "
                      f"{'FAILED' if result is None else 'ok'} wall={wall:.0f}s"
                      + (f" throughput={tp:.1f}" if tp is not None else ""), file=sys.stderr)
    with open(out) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    summarize(rows, spec)


if __name__ == "__main__":
    main()
