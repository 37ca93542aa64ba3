"""Build the benchmark: compile the repository's main sources together with
the benchmark's own Scala sources into one class directory.

The Spark and Scala jars come from SPARK_JARS when set, otherwise from the
`unmanagedBase` the repository's build.sbt names. The build is skipped when
the sources, the jar list and the compiler are unchanged since the last one.

Usage: python3 perfbench/build.py   (prints the class path to run with)
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
OUT = os.path.join(HERE, "out", "build")
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    d = os.environ.get("SPARK_JARS")
    if not d:
        build_sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.exists(build_sbt):
            raise BuildError("no build.sbt at the repository root and SPARK_JARS unset")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def sources():
    files = []
    for r in SOURCE_ROOTS:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {r}")
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile if needed; return the run class path."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for j in jars:
        h.update(j.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("compilation failed:\n" + p.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
