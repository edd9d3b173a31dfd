#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala` at the root of the
checkout) together with this package's sources (`perfbench/src`) with the
Scala compiler shipped in the Spark distribution into
`.bench_build/perfbench-<hash>.jar`. The hash covers every source file,
so an unchanged tree is not rebuilt. Run from the root of a checkout:

    python3 perfbench/build.py          # prints the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars, from `$SPARK_HOME/jars`, else from the directory the
    repository's own `build.sbt` declares as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("spark-core") for j in jars):
        raise SystemExit(f"build: no Spark jars under {jar_dir} (set SPARK_HOME)")
    return jars


def java_cmd(jar, main_args, java_opts=()):
    """The JVM command line of every benchmark JVM (heap, module opens,
    classpath), with `java_opts` before the main class."""
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cp = os.pathsep.join([os.path.abspath(jar)] + spark_jars())
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    return ["java", "-Xmx3g", "-XX:-UsePerfData", *opens, *java_opts, "-cp", cp,
            "perfbench.Main", *main_args]


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"build: library sources {LIB_SRC} not found; run from the repository root")
    out = []
    for root in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def compile_jar(srcs, jar):
    classes = jar[:-len(".jar")] + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    scalac = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(spark_jars()),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file]
    if subprocess.run(scalac, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    if subprocess.run(["jar", "cf", jar + ".tmp", "-C", classes, "."]).returncode != 0:
        raise SystemExit("build: jar failed")
    shutil.rmtree(classes)
    os.rename(jar + ".tmp", jar)


def build():
    """Return the jar of these sources, compiling it if it is missing."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16])
    jar = base + ".jar"
    if not os.path.isfile(jar):
        os.makedirs(BUILD_DIR, exist_ok=True)
        for old in glob.glob(os.path.join(BUILD_DIR, "perfbench-*")):
            shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) else os.remove(old)
        compile_jar(srcs, jar)
    return jar


if __name__ == "__main__":
    print(build())
