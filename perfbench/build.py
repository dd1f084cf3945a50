"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars, else the Spark install that spark-submit
belongs to), into $CARGO_TARGET_DIR (default .bench_build) under the
current directory. A build is skipped when no source changed since the last.

    python3 perfbench/build.py     # from the root of a checkout
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not main or not harness:
        raise SystemExit("build: no program sources under src/main/scala "
                         "(run from the root of a checkout)")
    return main + harness


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    Spark install on PATH (a bin/spark-submit with a sibling jars/)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(d), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    raise SystemExit("build: no Spark install found (set SPARK_HOME)")


def classpath(classes=None):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {spark_jars()}")
    return os.pathsep.join(([classes] if classes else []) + jars)


def build():
    """Return the classes directory, compiling first if sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.abspath(os.path.join(BUILD_DIR, "classes"))
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = classpath()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
