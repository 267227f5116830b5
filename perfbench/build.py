#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark's own (perfbench/src) using the Scala
compiler that ships with Spark. The input tables are the sf 0.01 test
fixtures, kept in perfbench/fixtures/.

Run from the repository root:
    python3 perfbench/build.py
Outputs go under .bench_build/perfbench/ and are reused while the
sources they were built from are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SF = 0.01  # fixture scale factor; the pins in perfbench/pins match it
CPUS = max(1, min(4, os.cpu_count() or 1))
OUT = os.path.join(".bench_build", "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "fixtures", f"sf{SF}")
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar dir: $SPARK_HOME/jars, else the jars dir beside the
    first spark-submit on the PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark jars with a Scala compiler found; "
             "set SPARK_HOME")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob(os.path.join("perfbench", "src", "**", "*.scala"),
                           recursive=True))
    if not main:
        sys.exit("perfbench: graft sources (src/main/scala) not found; "
                 "run from the repository root")
    return main + own


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_opts(root):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Xmx3g",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" +
        os.path.join(HERE, "conf", "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
        "-Dderby.system.home=" + root,
    ]


def compile_classes():
    """Compile once per source digest; returns the classpath."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(OUT, "classes-" + digest(srcs))
    cp = f"{classes}:{jars}/*"
    if os.path.exists(os.path.join(classes, "DONE")):
        return cp
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", classes] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    open(os.path.join(classes, "DONE"), "w").close()
    return cp


def build():
    """Returns the classpath and the fixture dir."""
    if not os.path.exists(os.path.join(DATA, "orders.parquet")):
        sys.exit(f"perfbench: fixtures not found in {DATA}")
    os.makedirs(OUT, exist_ok=True)
    return compile_classes(), DATA


if __name__ == "__main__":
    cp, data = build()
    print(f"classpath: {cp}\nfixtures: {data}")
