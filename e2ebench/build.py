#!/usr/bin/env python3
"""Build file of the benchmark.

    python3 e2ebench/build.py

Compiles the program's sources (src/main) together with the benchmark's
own Scala code into .bench_build/e2ebench/classes, with the Scala compiler
that ships among Spark's jars (the same Scala version the program is built
with), and writes the runtime classpath (those classes, then Spark's jars)
to .bench_build/e2ebench/classpath.txt. Nothing outside the checkout is
read but Spark's jars and the JDK, and nothing outside .bench_build is
written, so the build needs neither sbt nor a dependency cache.

Spark's jars are taken from the directory the root build.sbt names as its
`unmanagedBase`, else from $SPARK_HOME/jars, else from the installation
whose bin/ holds the spark-submit found on PATH. The build is skipped
while the sources and the jar list are unchanged. Exit code 3 when the
build fails.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
COMPILE_TIMEOUT_S = 800


def log(msg):
    print("[e2ebench] " + msg, file=sys.stderr, flush=True)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars_dir():
    candidates = []
    root_build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(root_build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(root_build).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                       "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    return None


def files_under(paths):
    return sorted(os.path.join(d, f) for p in paths for d, _, fs in os.walk(p) for f in fs)


def build():
    """Compile when the sources changed; returns the runtime classpath."""
    jars_dir = spark_jars_dir()
    if jars_dir is None:
        log("no Spark installation with a Scala compiler found: set SPARK_HOME")
        sys.exit(3)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    sources = [f for f in files_under(SOURCES) if f.endswith(".scala")]
    resources = files_under([RESOURCES])
    h = hashlib.sha256("\n".join(jars).encode())
    for f in sources + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()

    fresh = os.path.join(BUILD, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", fresh, "-classpath", os.pathsep.join(jars)] + sources))
    log_path = os.path.join(BUILD, "build.log")
    log("compiling %d Scala sources with %s; log in .bench_build/e2ebench/build.log"
        % (len(sources), os.path.basename(glob.glob(os.path.join(jars_dir, "scala-compiler-*.jar"))[0])))
    t0 = time.time()
    cmd = [java(), "-Xss16m", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args_file]
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, start_new_session=True)
        try:
            rc = p.wait(timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            rc = -9
    if rc != 0:
        with open(log_path, errors="replace") as f:
            log("build failed (rc=%s):\n%s" % (rc, "".join(f.readlines()[-25:])))
        sys.exit(3)
    for f in resources:
        dst = os.path.join(fresh, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    cp = os.pathsep.join([classes] + jars)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


if __name__ == "__main__":
    build()
