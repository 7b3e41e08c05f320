"""Build file of the perfbench harness.

Compiles the engine's sources (`src/main/scala`) together with the
harness (`perfbench/scala`) with the Scala compiler that ships in Spark's
jar directory, into `<build dir>/classes`. A stamp of the sources' hash
skips the compile when nothing changed.

    python3 perfbench/build.py [build dir]
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
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def source_files():
    out = []
    for d in SOURCES:
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def build(build_dir):
    """Compile if the sources changed; returns the classpath."""
    files = source_files()
    if not os.path.isdir(SOURCES[0]) or not files:
        raise SystemExit(f"perfbench: engine sources not found under {SOURCES[0]}")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(build_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed ({p.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(build_dir)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                                os.path.join(ROOT, ".bench_build"))))
