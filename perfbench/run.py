#!/usr/bin/env python3
"""Benchmark entry point: builds the harness (and the program's sources)
when they changed, then runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload <headline|vis_session|dedup_scale> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every figure is printed as
`metric <name> <value> <unit>`; the last stdout line is the JSON result
(`correct`, `attempted`, `failed`, `metrics`). Build output, Spark
scratch space and generated inputs stay under `.bench_build/`.

    python3 perfbench/run.py --record --workload <headline|vis_session>
        regenerates perfbench/expected/<workload>.json
    python3 perfbench/run.py --test
        runs the harness's own specs
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("headline", "vis_session", "dedup_scale")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(*tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=HERE,
                          env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)


def build():
    """Compile if any source changed; returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as cf:
                    return cf.read()
    out = sbt("compile", "export Runtime/fullClasspath")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip()


def java_cmd(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main", *args]


def run_jvm(cmd):
    """Runs the JVM in its own process group; forwards its stdout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return code, last


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if a.test:
        out = sbt("test")
        print(out.stdout)
        sys.exit(out.returncode)
    if not a.workload:
        die("--workload is required")
    cp = build()
    # a record run keeps its tables and result dumps for oracle_check.py
    work = os.path.join(BUILD, "record" if a.record else f"work-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--expected", os.path.join(HERE, "expected")]
    if a.record:
        args.append("--record")
    try:
        code, last = run_jvm(java_cmd(cp, work, args))
    finally:
        if not a.record:
            shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not (a.record or last.startswith("{")):
        die(f"benchmark JVM exited with {code}")


if __name__ == "__main__":
    main()
