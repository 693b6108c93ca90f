#!/usr/bin/env python3
"""Build graft's benchmark from source if needed, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The benchmark (perfbench/build.sbt)
compiles the checkout's src/main together with the benchmark code in
perfbench/src, once per source state, and the JVM is then started
directly from the classpath sbt wrote. The last line printed is the
result JSON; the JVM's log goes to perfbench/.out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".out")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it. Returns (exit code or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def source_stamp():
    """Digest of every input of the build: the benchmark code, its build files and graft's src/main."""
    h = hashlib.sha256()
    trees = [os.path.join(BENCH, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"build timed out; see {log_path}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    config = os.path.join(BENCH, "workloads.json")
    with open(config) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(cfg['workloads'])}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")
    os.makedirs(OUT, exist_ok=True)
    build()

    with open(CLASSPATH) as f:
        cp = f.read().strip()
    scratch = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("data", "tmp", "local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{cfg['spark']['xmx']}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/local",
           f"-Dspark.sql.warehouse.dir={scratch}/tmp/warehouse", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={scratch}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--config", config, "--work", f"{scratch}/data", "--out", OUT]
    log_path = os.path.join(OUT, f"{a.workload}-{a.seed}-t{a.trace}.log")
    with open(log_path, "w") as log:
        rc, stdout = run_group(cmd, RUN_TIMEOUT_S, cwd=scratch, stdout=subprocess.PIPE,
                               stderr=log, text=True)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
    # A failed check still prints its result line; a crash prints none.
    sys.stdout.write(stdout)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        sys.exit(rc)


if __name__ == "__main__":
    main()
