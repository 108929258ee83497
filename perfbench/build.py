"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark runner (perfbench/scala) from source with the Scala
compiler that ships among the Spark jars, into .bench_build/perfbench.

Usage: python3 perfbench/build.py     (run from the repository root)

The build is skipped when the stamp of the sources and the compiler
matches the one recorded by the last successful build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    found = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    found += glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala"))
    return sorted(found)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the sources' stamp."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return want
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n)]
    if len(compiler) != 3:
        sys.exit(f"perfbench: no Scala 2.13 compiler among {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return want


if __name__ == "__main__":
    build()
