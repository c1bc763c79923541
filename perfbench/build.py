"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes-<hash>.jar` of the checkout. The hash covers every
source file, so an unchanged tree is compiled once per checkout. The classes
go into a jar because the JVM's class-data sharing archive, which `run.py`
keeps beside it, accepts only jars on the class path.

    python3 perfbench/build.py      # prints the jar's path
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one the
    checkout's build.sbt names as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not found:
            raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = found.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        files = sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
        if not files:
            raise RuntimeError(f"no sources under {d}")
        found += files
    return found


def ensure(root):
    """Return the jar for the current sources, compiling them first when no
    build of exactly these sources exists."""
    srcs, jars = sources(root), spark_jars(root)
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    build = os.path.join(root, BUILD_DIR)
    jar = os.path.join(build, "classes-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(build, exist_ok=True)
    for old in glob.glob(os.path.join(build, "classes-*")):  # older builds and their archives
        shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)
    out = jar[:-len(".jar")]
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    return jar


if __name__ == "__main__":
    print(ensure(os.getcwd()))
    sys.exit(0)
