#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout compiles the
engine and the benchmark with sbt (offline) and records the runtime
classpath under perfbench/.build; later runs reuse it until a source or
build file changes. The workload runs in one JVM; everything it writes
goes under .bench_work/ in the checkout and is removed afterwards, except
the last untraced result per workload, which a traced run compares
against to report the tracing overhead.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
STAMP = os.path.join(BUILD_DIR, "stamp")
WORKLOADS = ["build_pipeline", "serve_http", "ingest_stream"]

# A run must end within 180 s; a first run that also builds, within 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these opens (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source missing: {need} (run from a full checkout)", 3)
    files = build_inputs()
    missing = [f for f in files if not os.path.isfile(f)]
    if missing:
        fail(f"missing build input {os.path.relpath(missing[0], ROOT)}", 3)
    stamp = stamp_of(files)
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                                env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed", 3)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    archive_classes(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def archive_classes(cp):
    """Record the classes a short run loads in a class-data-sharing
    archive; later runs map it instead of loading and verifying the same
    classes again, which takes seconds off every JVM start. A run without
    the archive is correct, only slower to start."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(ROOT, ".bench_work", f"archive-{os.getpid()}")
    args = argparse.Namespace(workload="build_pipeline", seed=0, seconds=1,
                              trace=0)
    cmd = java_cmd(cp, args, work, os.path.join(work, "results"))
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    try:
        subprocess.run(cmd, cwd=ROOT, env=java_env(work),
                       stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                       timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def java_env(work):
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside
    # the run's work directory
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(cp, args, work, results):
    java = "java"
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] \
        if os.path.exists(ARCHIVE) else []
    # no hsperfdata file, and temporary files inside the run's directory
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return [java, *share, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            *opens, "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--results", results]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)

    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cmd = java_cmd(cp, args, work, os.path.join(ROOT, ".bench_work", "results"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=java_env(work),
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode not in (0, 1) or not lines or \
            not lines[-1].startswith('{"correct":'):
        sys.stdout.write(out)
        fail(f"run ended with code {proc.returncode} and no result", 5)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
