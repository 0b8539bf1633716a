"""Build file of the benchmark: compiles the program's sources together
with the harness in `perfbench/src` into `.bench_build/`, with the Scala
compiler that ships among the Spark jars.

    python3 perfbench/build.py     # prints the classes directory

The output directory is named after a hash of every source file, so an
edited source gets a fresh build and an unchanged tree reuses the last one.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"

# The module options Spark 4 needs on JDK 17 outside spark-submit; the same
# list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opts():
    return [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars(root):
    """The Spark jars directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    return found


def ensure(root):
    """Return the classes directory for the current sources, building it if needed."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, f"perfbench-classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "keys.tsv")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-classpath", f"{jars}/*", "-d", tmp] + srcs,
            check=True, stdout=sys.stderr)
        # Key inventory by module, for the workload plans.
        subprocess.run(
            ["java"] + jvm_opts() + ["-cp", classpath(root, tmp), "perfbench.Harness",
                                     "--mode", "keys", "--out", os.path.join(tmp, "keys.tsv")],
            check=True, stdout=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(ensure(os.getcwd()))
