"""Build file of the benchmark: compiles the program and the harness.

The program is the repo's ``src/main/scala``; the harness is
``perfbench/harness``. Both are compiled in one ``scalac`` pass into
``.bench_build/classes`` of the checkout, against the Spark jars the sbt
build uses, which also hold the Scala compiler.
A stamp of the sources' content hash skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """The jars the sbt build compiles against (``unmanagedBase`` in
    build.sbt), else those of ``SPARK_HOME``."""
    found = []
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        found.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        found.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in found:
        if os.path.isdir(jars):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark jars; set unmanagedBase in build.sbt or SPARK_HOME")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    found = []
    for r in roots:
        for dirpath, _, names in os.walk(r):
            found.extend(os.path.join(dirpath, n) for n in names if n.endswith(".scala"))
    if not any(f.startswith(roots[0]) for f in found):
        raise SystemExit(f"build: no program sources under {roots[0]}")
    return sorted(found)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile when needed; return the run classpath."""
    files = sources()
    fp = fingerprint(files)
    cp = os.pathsep.join([CLASSES, spark_jars()])
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(fp)
    return cp


if __name__ == "__main__":
    print(ensure())
