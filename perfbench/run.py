#!/usr/bin/env python3
"""Benchmark of the e-commerce stream job and the query catalog.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: drain_ref, paced_ref, drain_wide_keys (the stream job through
`EcommerceStreamJob.startAll` into a stand-in JDBC database) and catalog_cold
(a registry-cold pass over a fixed list of `SparkEntry.queries`). See
perfbench/README.md for what each measures.

The first run in a checkout builds the program and the benchmark from source
with sbt (offline) into `.bench_build/`; later runs reuse that build while no
source is newer than it. Each run starts one JVM, which writes its result to
a file; this script prints the run's named figures, then, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Anything else goes to standard error. Per-run details (named
figures, host facts, spans of traced runs) are kept in `.bench_build/results/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.args")
WORKLOADS = ("drain_ref", "paced_ref", "drain_wide_keys", "catalog_cold")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` and wait for it; kill it on timeout or when this script is
    stopped from outside. Returns its exit code, or None on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, **kw)

    def stop(*_):
        p.kill()
        p.wait()
        fail("stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def newest_source_mtime():
    """Latest modification time over everything the build reads."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the benchmark; write the java @argfile."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not next to the benchmark; nothing to build")
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local caches: the build must never reach out
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    tmp = LAUNCH + ".tmp"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", f"writeLaunch {tmp}"]
    code = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if code != 0 or not os.path.isfile(tmp):
        fail("build timed out" if code is None else f"build failed (exit {code})")
    os.replace(tmp, LAUNCH)


def layer_table(detail):
    """Per-layer table of a traced run: self time, counts and ratios."""
    rows = []
    for k in sorted(detail):
        if "." in k and not k.startswith("host."):
            rows.append(f"  {k:<34} {detail[k]:>16.6g}")
    base = detail.get("trace.overhead_ratio")
    head = f"per-layer ({detail['workload']}, seed {detail['seed']}; " \
           f"trace.overhead_ratio {base:.4g} = traced / untraced repetition)"
    return "\n".join([head] + rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", f"@{LAUNCH}", HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
           "--data", os.path.join(HERE, "data"), "--out", out]
    t0 = time.time()
    try:
        code = run_child(cmd, RUN_TIMEOUT_S, cwd=work)
        if code != 0 or not os.path.isfile(out):
            fail(f"run exceeded {RUN_TIMEOUT_S} s" if code is None else f"run failed (exit {code})")
    except SystemExit:
        shutil.rmtree(work, ignore_errors=True)
        raise

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    for suffix in (".detail.json", ".spans.jsonl"):
        if os.path.isfile(out + suffix):
            shutil.copyfile(out + suffix, stem + suffix)
    with open(out) as f:
        line = f.read().strip()
    with open(out + ".detail.json") as f:
        detail = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    result = json.loads(line)
    detail["run_wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(detail))
    if a.trace == "1":
        print(layer_table(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
