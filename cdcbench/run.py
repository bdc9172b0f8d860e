#!/usr/bin/env python3
"""Live-Postgres CDC benchmark: one workload, one run, one JSON result line.

    python3 cdcbench/run.py --workload b_steady --seed 1 --seconds 10 --trace 0
    python3 cdcbench/run.py --self-test

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the runtime classpath;
later runs start the JVM directly. See cdcbench/NOTES.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile engine + benchmark unless the cached classpath is newer than
    every source file."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (build.sbt, src/main/scala) not found next to cdcbench/")
    if os.path.isfile(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < built for f in sources()):
            return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")


def pg_bindir():
    if shutil.which("pg_config"):
        r = subprocess.run(["pg_config", "--bindir"], capture_output=True, text=True)
        if r.returncode == 0 and os.path.isfile(os.path.join(r.stdout.strip(), "initdb")):
            return r.stdout.strip()
    initdb = shutil.which("initdb")
    return os.path.dirname(os.path.realpath(initdb)) if initdb else ""


def stop_clusters(pgdir, bindir):
    """Stops every cluster the run left behind (the JVM stops its own; this
    covers a JVM that was killed) and removes their files."""
    for name in sorted(os.listdir(pgdir)) if os.path.isdir(pgdir) else []:
        data = os.path.join(pgdir, name, "data")
        if os.path.isfile(os.path.join(data, "postmaster.pid")):
            subprocess.run(["su", "postgres", "-c",
                            f"cd / && '{bindir}/pg_ctl' -D '{data}' -m immediate -s stop"],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(pgdir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", default="1")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--cores", help="Spark local[n] (default: nproc)")
    ap.add_argument("--wrong-expectation", action="store_true",
                    help="shift the gate's expectation by one change; the run must fail")
    ap.add_argument("--self-test", action="store_true", help="check the gate without a cluster")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Xmx3g", "-Dspark.ui.enabled=false", "-cp", open(CLASSPATH).read().strip(), "cdcbench.Main"]
    if a.self_test:
        sys.exit(subprocess.run(cmd + ["--self-test"]).returncode)

    bindir = pg_bindir()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # the cluster runs as the postgres OS user, which must be able to
    # traverse its data directory's parents: keep it under the temp dir
    pgdir = tempfile.mkdtemp(prefix="cdcbench-pg-")
    os.chmod(pgdir, 0o755)
    cmd += ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
            "--work", run_dir, "--pgdir", pgdir, "--pgbin", bindir,
            "--wrong-expectation", "1" if a.wrong_expectation else "0"]
    if a.cores:
        cmd += ["--cores", a.cores]
    log_path = os.path.join(WORK, "last-jvm.log")
    code, out = 1, ""
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                                 text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
                code = p.returncode
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                out, _ = p.communicate()
                print(f"cdcbench: run exceeded {JVM_TIMEOUT_S} s and was killed", file=sys.stderr)
                code = 124
    finally:
        stop_clusters(pgdir, bindir)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        print(l)
    if code != 0:
        print(f"cdcbench: exit {code}; JVM log in {log_path}", file=sys.stderr)
        sys.exit(code)
    if not lines or not lines[-1].startswith("{"):
        fail("no result line", 1)


if __name__ == "__main__":
    main()
