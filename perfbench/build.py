"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own Scala sources (``perfbench/scala``) with the Scala
compiler that ships among Spark's jars, into
``.bench_build/classes-<hash>``. The hash covers every source file, so
an unchanged tree is not rebuilt. Run directly to build:
``python3 perfbench/build.py``.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# The JDK-17 module openings spark-submit normally passes (see bin/graft-java).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: neither SPARK_HOME nor spark-submit found")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + bench


def build():
    """Compile if needed; return the classpath to run the harness with."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    jars = os.path.join(spark_jars(), "*")
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-d", out, "-classpath", jars, "-nowarn"] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        open(os.path.join(out, ".ok"), "w").close()
    return out + os.pathsep + jars


def java_cmd(classpath, heap="3g", extra=()):
    """The JVM command line for a harness main."""
    return (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in OPENS] +
            ["-Xmx" + heap, "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             # a fixed set of JIT compiler threads, so that the harness
             # can tell their CPU time from the program's
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false"] + list(extra) +
            ["-cp", classpath, "perfbench.Harness"])


if __name__ == "__main__":
    print(build())
