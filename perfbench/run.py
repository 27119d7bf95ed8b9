#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark harness from source on first use
(sbt, through perfbench/build.sbt), then runs the workload in one JVM on
local[nproc]. The JVM writes a full record (metrics, steadiness samples,
checks, input properties, spans when traced); this script adds the DuckDB
oracle check for `curate`, keeps the record under the build dir, prints a
steadiness report on stderr and the result line on stdout.

Build output and scratch go to $CARGO_TARGET_DIR (default .bench_build)
under the repository root; a run's scratch dir is removed when it succeeds.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# a run (after any build) must end within 180 s: every step gets what is
# left of RUN_BUDGET_S
RUN_BUDGET_S = 172
BUILD_TIMEOUT_S = 840

def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench")


def source_stamp():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, env, log, timeout):
    """Run a command in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(l[:300] + ("...\n" if len(l) > 300 else "")
                           for l in fh.readlines()[-n:])
    except OSError:
        return ""


def launch_args():
    """Build (if the sources changed) and return the JVM options and
    classpath of the harness, as the build wrote them."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} under {ROOT}: run from a full checkout of the repository")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp()
    args_file = os.path.join(bdir, "launch.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.isfile(args_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(args_file) as fh:
                    return fh.read().splitlines()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(bdir, "build.log")
    written = os.path.join(HERE, "target", "launch.txt")
    if os.path.isfile(written):
        os.remove(written)
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/launch"],
                   HERE, sbt_env(), log, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(written):
        fail(f"build failed (exit {rc}); log {log}:\n{tail(log)}")
    shutil.copyfile(written, args_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(args_file) as fh:
        return fh.read().splitlines()


def load_avg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def left(start):
    return max(1.0, RUN_BUDGET_S - (time.time() - start))


def oracle_check(record, work, start):
    """Compare the dumped curate keys against their DuckDB oracles."""
    out, sf = record["extra"].get("oracle_out"), record["extra"].get("oracle_sf_dir")
    if not out:
        return {"name": "duckdb-oracle", "ok": False, "detail": "no oracle dump"}
    log = os.path.join(work, "oracle.log")
    t0 = time.time()
    rc = run_group([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), out, sf],
                   ROOT, dict(os.environ), log, left(start))
    summary = [l for l in tail(log, 200).splitlines() if l.startswith("==") or "FAIL" in l]
    return {"name": "duckdb-oracle", "ok": rc == 0, "seconds": time.time() - t0,
            "detail": " | ".join(summary)[:500]}


def steadiness_report(record):
    st = record["steadiness"]
    print(f"[perfbench] {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"nproc={st['nproc']} load1 start={st['load1_start']} end={st['load1_end']}",
          file=sys.stderr)
    for name, s in sorted(st["metrics"].items()):
        print(f"[perfbench]   {name:32s} n={s['n']:<5d} median={s['median']:.4f} "
              f"q1={s['q1']:.4f} q3={s['q3']:.4f}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    jvm_args = launch_args()
    start = time.time()
    bdir = build_dir()
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec_path = os.path.join(work, "record.json")
    gen_dir = os.path.join(work, "input")
    log = os.path.join(work, "gen.log")
    rc = run_group([sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
                    "--seed", str(args.seed), "--seconds", str(args.seconds), "--out", gen_dir],
                   ROOT, dict(os.environ), log, left(start))
    if rc != 0:
        fail(f"input generation failed (exit {rc}):\n{tail(log)}", 1)
    with open(os.path.join(gen_dir, "inputs.json")) as fh:
        inputs = json.load(fh)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the engine's JVM options and the classpath, then a smaller heap than
    # the engine's default (the later -Xmx wins) and the run's own tmpdir
    cmd = [java] + jvm_args + [
        "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--input", gen_dir, "--gen-s", str(inputs["gen_s"]),
        "--work", work, "--out", rec_path,
        "--launch-ms", str(int(time.time() * 1000))]
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    rc = run_group(cmd, ROOT, dict(os.environ), log, left(start) - 5)
    jvm_s = time.time() - t0
    if rc != 0 or not os.path.isfile(rec_path):
        fail(f"workload {args.workload} failed (exit {rc}); log tail:\n{tail(log)}", 1)
    with open(rec_path) as fh:
        record = json.load(fh)
    record["extra"]["jvm_s"] = jvm_s
    record["inputs"].update(inputs)
    record["extra"]["jvm_log_tail"] = tail(log, 5)

    if args.workload == "curate":
        chk = oracle_check(record, work, start)
        record["checks"].append(chk)
        record["attempted"] += 1
        record["failed"] += 0 if chk["ok"] else 1
    record["steadiness"]["load1_after_checks"] = load_avg()

    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        # tracing overhead: this traced run's end-to-end values minus the
        # untraced run's of the same workload and seed, when one was kept
        untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["e2e"]
            record["tracing_overhead"] = {k: record["e2e"][k] - v
                                          for k, v in base.items() if k in record["e2e"]}
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh)
    shutil.rmtree(work, ignore_errors=True)

    steadiness_report(record)
    for c in record["checks"]:
        if not c["ok"]:
            print(f"[perfbench] check FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    values = record["layer"] if args.trace else record["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not args.trace:
        fail(f"record lacks metrics {missing}", 1)
    # a per-layer metric of a layer this workload does not exercise reads 0
    values = dict(values, **{m: 0.0 for m in missing})
    correct = record["failed"] == 0 and all(c["ok"] for c in record["checks"])
    print(json.dumps({
        "correct": correct,
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
