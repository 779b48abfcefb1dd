#!/usr/bin/env python3
"""Energy-lake benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload elt_ticks --seed 1 --seconds 10 --trace 0

Builds the graft library and the benchmark from source with sbt on first
use (the classpath is cached under .bench_build/ and rebuilt when a source
or build file changes), then runs one JVM with the benchmark's main class.
The last line of standard output is the JSON result; the lines before it
name every metric with its unit and sample count. See perfbench/README.md.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# library's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.stderr.write("\nperfbench: build failed\n")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("perfbench: the graft sources (src/main/scala/graft) are "
                         "missing; run from a full checkout of the repository\n")
        sys.exit(2)
    cp = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap: no resizing pauses mid-run; no perf-data file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + sys.argv[1:]
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait()
    except BaseException:
        p.kill()
        p.wait()
        raise
    sys.exit(rc)


if __name__ == "__main__":
    main()
