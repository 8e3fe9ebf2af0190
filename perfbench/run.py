#!/usr/bin/env python3
"""graft benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (an sbt project in this directory that compiles the
library's sources from ../src/main/scala) when its sources changed,
runs one workload in a fresh JVM inside a scratch directory under
perfbench/.work, checks that the run left the source tree unchanged,
and prints the harness's detail line followed by the result line
{"correct", "attempted", "failed", "metrics"} as the last line.
Workloads and metrics are described in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve_point", "ingest_mixed", "curate_batch")
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these opens (the same
# list the library's own build passes to its forked JVMs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# Paths the benchmark itself writes; everything else must stay as it was.
OWN = (WORK, TARGET, os.path.join(HERE, "project", "target"),
       os.path.join(HERE, "project", "project"), os.path.join(ROOT, ".bench_build"),
       os.path.join(ROOT, ".git"))


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [LIB, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with the library; returns the runtime classpath."""
    if not os.path.isdir(LIB):
        die(f"library sources not found at {os.path.relpath(LIB, os.getcwd())}")
    stamp, cp_file = os.path.join(TARGET, "perfbench.stamp"), os.path.join(TARGET, "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=700)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def snapshot():
    """(path, size, mtime) of every file of the tree outside the benchmark's own output."""
    seen = {}
    for d, dirs, fs in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in OWN]
        for f in fs:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            seen[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return seen


def git_status():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return None
    p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout if p.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    cp = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    before, git_before = snapshot(), git_status()
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            tail_log(work)
            shutil.rmtree(work, ignore_errors=True)
            die(f"run exceeded {RUN_LIMIT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail_log(work)
        shutil.rmtree(work, ignore_errors=True)
        die(f"harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    shutil.rmtree(work, ignore_errors=True)

    after, git_after = snapshot(), git_status()
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    if changed or git_before != git_after:
        print(f"perfbench: the run changed the tree: {changed[:20]}", file=sys.stderr)
        result["correct"] = False
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


def tail_log(work):
    try:
        with open(os.path.join(work, "stderr.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    except OSError:
        pass


if __name__ == "__main__":
    main()
