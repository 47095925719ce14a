#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Workloads: query-mix, crawl-prep (see BENCHMARK.json).
With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, and the
spans go to .bench_work/traces/.

The first run in a checkout builds graft and the harness with sbt
(perfbench/build.sbt) into $CARGO_TARGET_DIR or .bench_build/; later
runs reuse that build while the sources are unchanged. Each run works
in its own run root under .bench_work/, which must not exist yet
and is deleted at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query-mix", "crawl-prep")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """A digest of every input of the build."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile graft plus the harness once; return the classpath."""
    out = build_dir()
    cp_file = os.path.join(out, "perfbench.classpath")
    stamp_file = os.path.join(out, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx3g")
    log("building graft and the harness with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("build failed")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"graft sources not found under {ROOT}/src; "
                         "run from the root of a graft checkout")
    cp = ensure_build()

    work = os.path.join(ROOT, ".bench_work")
    run_root = os.path.join(work, f"run-{a.workload}-{a.seed}-{a.trace}")
    if os.path.exists(run_root) and os.listdir(run_root):
        raise SystemExit(f"run root {run_root} is not empty; "
                         "an earlier run left artifacts behind")
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    trace_out = os.path.join(work, "traces", f"{a.workload}-{a.seed}.jsonl")
    # two cores leave the others to the JIT, GC and driver threads, which
    # makes runs steadier on a host with few cores
    cores = min(2, os.cpu_count() or 1)
    tmp = os.path.join(run_root, "tmp")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores),
              "--root", os.path.join(run_root, "work"),
              "--expected", os.path.join(HERE, "expected", "query_mix.tsv"),
              "--trace-out", trace_out])
    result = None
    proc = subprocess.Popen(cmd, cwd=run_root, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL if not os.environ.get(
                                "PERFBENCH_VERBOSE") else None,
                            text=True, start_new_session=True)
    def overdue():
        log("run exceeded its time limit")
        os.killpg(proc.pid, signal.SIGKILL)
    watchdog = threading.Timer(RUN_TIMEOUT_S, overdue)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"run failed (exit {proc.returncode})")
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
