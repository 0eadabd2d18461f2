#!/usr/bin/env python3
"""Run one loopbench measurement and print its result as the last line.

    python3 loopbench/run.py --workload session --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository. The first run
builds the engine and the benchmark from source with sbt (offline); later
runs reuse the build while the sources are unchanged. Each run works in
its own scratch directory under loopbench/target/ and removes it at exit.
A traced run (--trace 1) also writes its spans to
loopbench/target/traces/<workload>-seed<seed>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD = os.path.join(TARGET, "loopbench-build")
WORKLOADS = ("session", "ingest_index")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg, code=2):
    print(f"loopbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    fixed = ["build.sbt", "project/build.properties",
             "loopbench/build.sbt", "loopbench/project/build.properties"]
    trees = ["src/main", "loopbench/src/main"]
    files = [f for f in fixed if os.path.isfile(os.path.join(ROOT, f))]
    for t in trees:
        for d, _, names in os.walk(os.path.join(ROOT, t)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The benchmark's runtime classpath, building first if the sources changed."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=log, text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (see {log_path})", 4)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {log_path})", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    run_root = os.path.join(TARGET, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "jtmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(run_root, 'jtmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "loopbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", run_root]
    if a.trace:
        cmd += ["--spans", os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.json")]
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {proc.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        fail("run printed no result line", 1)
    for l in lines[:-1]:
        print(l)
    print(f"  wall {time.time() - started:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
