"""Starts the harness JVM with the repo's run settings and talks to it.

The flags follow build.sbt's forked `run`: the JDK 17 add-opens Spark
needs, UTC sessions, no UI, `-Xmx`/`-Xms` from SPARK_DRIVER_MEM, the
512m code cache, the collector from SPARK_GRAFT_GC (parallel by default)
and `local[$SPARK_GRAFT_CPUS]`.
"""

import json
import os
import subprocess

REPLY = "@@E2E "
ADD_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
)


def cpus():
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def driver_mem():
    """SPARK_DRIVER_MEM, else 2g, where build.sbt's `run` defaults to 16g.

    The benchmark's journals are a few MB. A larger pinned heap only makes
    each run fault in gigabytes of fresh memory, which on a shared machine
    adds noise and takes memory from neighbours.
    """
    return os.environ.get("SPARK_DRIVER_MEM") or "2g"


def jvm_flags(tmp):
    gc = os.environ.get("SPARK_GRAFT_GC", "parallel")
    gc_flags = {"parallel": ["-XX:+UseParallelGC"], "g1": [], "default": []}.get(gc, [gc])
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{driver_mem()}", f"-Xms{driver_mem()}",
              "-XX:ReservedCodeCacheSize=512m"] + gc_flags
    flags += os.environ.get("SPARK_GRAFT_JVM_EXTRA", "").split()
    # Spark's scratch space and warehouse stay inside the run directory, and
    # the JVM writes no perf-data file under /tmp
    flags += ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}"]
    return flags


class HarnessError(RuntimeError):
    pass


class Jvm:
    """One harness process; `call` sends a command and waits for its reply."""

    def __init__(self, classes, jars, journal, warehouse, run_dir, trace):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.log = open(os.path.join(run_dir, "jvm.log"), "w")
        cp = os.pathsep.join([classes, os.path.join(jars, "*")])
        self.cmd = ["java"] + jvm_flags(tmp) + ["-cp", cp, "e2ebench.Harness",
                                                journal, warehouse, cpus(), "1" if trace else "0"]
        self.proc = subprocess.Popen(self.cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1, cwd=run_dir)
        self._read()

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise HarnessError(f"harness exited (code {self.proc.poll()}), see {self.log.name}")
            if line.startswith(REPLY):
                return json.loads(line[len(REPLY):])

    def call(self, op, **kw):
        kw["op"] = op
        self.proc.stdin.write(json.dumps(kw) + "\n")
        self.proc.stdin.flush()
        res = self._read()
        if "error" in res:
            raise HarnessError(f"{op}: {res['error']}")
        return res

    def close(self):
        if self.proc.poll() is None:
            try:
                self.call("quit")
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.log.close()
