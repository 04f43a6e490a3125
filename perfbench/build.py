"""Builds the benchmark: the engine's sources under src/main/scala and the
benchmark's own under perfbench/src, compiled together with the Scala
compiler that ships among the Spark jars, into one class directory.

A build is skipped when a stamp of every source file's path and contents
matches the last build. Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
BUILD_DIR = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")


def spark_jars():
    """The Spark jars directory the engine builds against, as build.sbt's
    `unmanagedBase` names it; the jars include the Scala compiler."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt; run from the repository root")
    return m.group(1)


def sources(root="."):
    found = []
    for top in SOURCE_ROOTS:
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def classpath():
    return os.path.abspath(CLASSES) + os.pathsep + os.path.join(spark_jars(), "*")


def stamp(srcs=None):
    """Digest of every source file's path and contents."""
    digest = hashlib.sha256()
    for s in srcs if srcs is not None else sources():
        with open(s, "rb") as f:
            digest.update(s.encode() + b"\0" + f.read() + b"\0")
    return digest.hexdigest()


def build(log=sys.stderr):
    """Compiles when sources changed; returns the class directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(".", "src", "main")) for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from the repository root")
    digest = stamp(srcs)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return CLASSES
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        log.write(proc.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(build())
