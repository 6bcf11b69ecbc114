"""Builds the benchmark's JVM side: the warehouse sources plus the harness.

Compiles `src/main/scala` and `e2ebench/harness` with the Scala compiler
that ships in the Spark distribution, into `.bench_build/classes`. A stamp
of the source hashes skips the compile when nothing changed.

    python3 e2ebench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("no Spark jars: set SPARK_HOME")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build():
    """Compiles when the sources changed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        raise SystemExit(f"compile failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
