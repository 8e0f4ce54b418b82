#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution, into .bench_build/perfbench/classes-<hash>.

Run from the root of a checkout:  python3 perfbench/build.py
Prints the class directory. A build whose sources are unchanged is reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"
OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    beside spark-submit on the PATH, else the directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if home:
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return m.group(1)


JARS = spark_jars()


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("perfbench: no library sources under src/main/scala; "
                         "run from the root of a checkout")
    return files + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def classpath(classes):
    return classes + os.pathsep + os.path.join(JARS, "*")


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + digest)
    if os.path.isdir(classes):
        return classes, digest
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(JARS, "scala-%s-%s.jar" % (m, SCALA))
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(JARS, "*")] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
