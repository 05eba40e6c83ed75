#!/usr/bin/env python3
"""Build and run graft's POS benchmark; print its result as the last line.

    python3 posbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources and
the harness with sbt (offline) into one jar under posbench/target; later
runs reuse it while the sources are unchanged. One JVM runs the workload on
local[nproc]; its full record lands in .bench_out/, its scratch data in
.bench_work/ (removed afterwards). See posbench/README.md.
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
SRC = os.path.join(ROOT, "src", "main", "scala")
# one jar: loading thousands of classes from a directory costs seconds per run
JAR = os.path.join(HERE, "target", "scala-2.13", "posbench_2.13-0.1.0.jar")
STAMP = os.path.join(HERE, "target", "posbench.stamp")
# Class-data-sharing archive of the classes a run loads: the first run after
# a build writes it at exit, later runs map it and start about 10 s faster.
CDS = os.path.join(HERE, "target", "posbench.jsa")
WORKLOADS = ("pos_cdc_stream", "table_ops", "gold_backfill")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
               " -Dsbt.server.autostart=false")


def fail(msg, code):
    print(f"posbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.dirname(SRC), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.abspath(__file__)]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    print("posbench: building (sbt package)", file=sys.stderr)
    for f in (CDS, CDS + ".tmp"):
        if os.path.exists(f):
            os.remove(f)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(JAR):
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if not os.path.isdir(os.path.join(SRC, "graft")):
        fail(f"graft sources not found under {os.path.relpath(SRC, ROOT)}", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME does not name a Spark install with jars/", 2)
    build()

    out = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    dump = not os.path.isfile(CDS)
    cds = f"-XX:ArchiveClassesAtExit={CDS}.tmp" if dump else f"-XX:SharedArchiveFile={CDS}"
    cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-Xmx4g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false",
              "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "posbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out])
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(out, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=log,
                                    start_new_session=True, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if dump and proc.returncode == 0 and os.path.isfile(CDS + ".tmp"):
        os.replace(CDS + ".tmp", CDS)
    result = None
    for line in reversed(stdout.splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    if proc.returncode != 0 or not isinstance(result, dict):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {proc.returncode}); log in {log_path}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
