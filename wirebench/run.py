#!/usr/bin/env python3
"""Wire-path benchmark of graft: one run of one workload.

    python3 wirebench/run.py --workload ingest|ui_reads|live_tail \
        --seed N --seconds S --trace 0|1 [--smoke] [--break-model]

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (wirebench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. Each run then
starts one fresh JVM that boots Spark, Engine and ProtocolServer the way
graft.ServerMain does and drives the server over loopback.

Stdout carries only bare JSON lines: one per metric, one with the
operations attempted and failed, and last the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the result
holds the end-to-end metrics, with --trace 1 the per-layer ones, which are
also written to .bench_build/trace-<workload>-<seed>.json.

Exit status: 0 when every output check passed, 1 when a check failed,
2 and no result when the checkout cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "ui_reads", "live_tail")
RUN_LIMIT_S = 170

def fail(msg):
    print(f"wirebench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose content decides the build, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def build():
    """(classpath, JVM options) of the built benchmark; builds when the
    sources changed. The JVM options are the program's own `run` options
    (the add-opens Spark needs on JDK 17, -Xmx from SPARK_DRIVER_MEM, 8g
    when unset), read back from sbt rather than copied here.
    """
    files = build_inputs()
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to the benchmark; run it from a full checkout")
    h = hashlib.sha256()
    # the program's build reads -Xmx from here
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "javaopts.txt")
    if all(os.path.isfile(f) for f in (stamp_file, cp_file, opts_file)):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh, open(opts_file) as fo:
                    return fh.read().strip(), fo.read().split("\n")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath",
             "print javaOptions"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = p.stdout.splitlines()
    # sbt's own lines start with "[": the classpath is a bare line, each
    # javaOptions entry a bare "* <option>" line
    bare = [l for l in lines if l and not l.startswith("[")]
    cp = next((l for l in reversed(bare) if not l.startswith("* ")), "")
    opts = [l[2:] for l in bare if l.startswith("* ")]
    if p.returncode != 0 or "wirebench" not in cp or \
            not any(o.startswith("-Xmx") for o in opts):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    print(f"wirebench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(opts_file, "w") as fh:
        fh.write("\n".join(opts))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, opts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes: a whole run takes seconds")
    ap.add_argument("--break-model", action="store_true",
                    help="check against a deliberately wrong model (must fail)")
    a = ap.parse_args()

    cp, opts = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "wirebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", os.path.join(run_dir, "data"),
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--trace-out", trace_out]
    if a.smoke:
        cmd.append("--smoke")
    if a.break_model:
        cmd.append("--break-model")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or "correct" not in result:
        fail(f"run ended without a result (exit {proc.returncode})")
    for l in lines:
        print(l)
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
