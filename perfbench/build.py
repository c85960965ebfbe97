#!/usr/bin/env python3
"""Builds everything the benchmark runs, from the sources of the checkout it
is started in, into `.bench_build/`:

  classes/   the program (src/main), compiled with the Scala compiler that
             ships with Spark's jars
  harness/   the benchmark's own Scala code (perfbench/scala)
  data/base  the deterministic synthetic base tables (gen.py)
  data/fix   Delta and Iceberg copies of lineitem and orders, written by the
             program itself through COPY ... (FORMAT delta|iceberg)

A stamp over every input skips the build when nothing changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))
# lineitem rows = 6,000,000 x SCALE
SCALE = "0.01"
CORES = 4

# what spark-submit would pass on JDK 17 (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` build.sbt names, else
    $SPARK_HOME/jars."""
    cands = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main, sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def stamp(files, jars):
    h = hashlib.sha256(f"{SCALE}|{CORES}|{sorted(os.listdir(jars))}".encode())
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    for f in files + res + [os.path.join(HERE, n) for n in ("gen.py", "build.py")]:
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def sh(cmd, log, timeout):
    with open(log, "a") as fh:
        fh.write("$ " + " ".join(cmd[:6]) + " ...\n")
        fh.flush()
        p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=timeout)
    if p.returncode != 0:
        raise BuildError(f"{os.path.basename(cmd[0])} step failed; see {log}")


def scalac(jars, cp, out, files, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    sh(["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
        "-nowarn", "-d", out, "-classpath", cp, "@" + argfile], log, 600)


def java_cmd(jars, run_dir, main_args, heap="3g"):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([os.path.join(OUT, "classes"), os.path.join(OUT, "harness"),
                          os.path.join(jars, "*")])
    return (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
            ["-cp", cp, "perfbench.Main"] + main_args)


def ensure():
    """Builds what is missing or stale; returns the Spark jar directory."""
    jars = spark_jars()
    main, harness = sources()
    want = stamp(main + harness, jars)
    sfile = os.path.join(OUT, "stamp")
    if os.path.exists(sfile) and open(sfile).read() == want:
        return jars
    for d in ("classes", "harness", "data", "classes.args", "harness.args", "stamp", "build.log"):
        p = os.path.join(OUT, d)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    print("benchmark: building the program and the harness", file=sys.stderr)
    classes = os.path.join(OUT, "classes")
    scalac(jars, os.path.join(jars, "*"), classes, main, log)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    scalac(jars, os.pathsep.join([classes, os.path.join(jars, "*")]),
           os.path.join(OUT, "harness"), harness, log)
    base = os.path.join(OUT, "data", "base")
    sh([sys.executable, os.path.join(HERE, "gen.py"), base, SCALE], log, 300)
    prep = os.path.join(OUT, "data", "prep")
    sh(java_cmd(jars, prep, ["--prepare", "1", "--base", base, "--cores", str(CORES),
                             "--fixtures", os.path.join(OUT, "data", "fix"), "--run", prep]),
       log, 600)
    shutil.rmtree(prep)
    with open(sfile, "w") as fh:
        fh.write(want)
    return jars


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        print(f"benchmark build failed: {e}", file=sys.stderr)
        sys.exit(2)
