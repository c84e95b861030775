#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (offline) when the
sources changed since the last build, then runs the harness in one JVM on
local[nproc]. Everything the run writes stays under `.bench_build/` at the
root of the checkout. The last line of stdout is the result JSON; the full
record (report, profile, per-layer metrics) goes to
`.bench_build/perfbench-out/<workload>_s<seed>_t<trace>.json` and, for
traced runs, the spans to `....spans.jsonl` beside it.

Extra flag: `--make-goldens 1` rewrites `perfbench/goldens/<workload>.tsv`.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("query_mix", "ingest_stream", "ann_topk")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("engine sources (src/main/scala/graft) not found beside perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    log_path = os.path.join(BUILD, "perfbench-build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-goldens", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(BUILD, "perfbench-out",
                       f"{a.workload}_s{a.seed}_t{a.trace}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--bench", BENCH, "--out", out]
    if a.make_goldens:
        cmd += ["--make-goldens", "1"]
    log_path = out + ".log"
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=log, stdin=subprocess.DEVNULL,
                               text=True,
                               timeout=1800 if a.make_goldens else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or (not a.make_goldens and
                             not (lines and lines[-1].startswith("{"))):
        sys.stderr.write(p.stdout)
        die(f"run failed (exit {p.returncode}), see {log_path}")
    sys.stdout.write(p.stdout)


if __name__ == "__main__":
    main()
