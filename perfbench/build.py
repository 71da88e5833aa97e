#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships in Spark's jars
directory, without sbt, into `.bench_build/` (or $CARGO_TARGET_DIR).

A build is skipped when a stamp of every source file matches the last
successful build. The Spark jars directory is $SPARK_HOME/jars, or else the
`unmanagedBase` that graft's build.sbt declares.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def scalac(jars: str, classpath: str, sources: list, dest: str) -> None:
    """Compile into a fresh directory, then move it into place, so an
    interrupted build never leaves half a class tree behind."""
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, n))[0] for n in (
        "scala-compiler-2.13.*.jar", "scala-library-2.13.*.jar", "scala-reflect-2.13.*.jar"))
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    try:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile],
                       check=True, stdout=sys.stderr)
    finally:
        os.remove(argfile)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build() -> str:
    """Build what is stale and return the runtime classpath."""
    jars = spark_jars()
    out = build_dir()
    main_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HARNESS, "*.scala")))
    if not main_src:
        raise SystemExit(f"no Scala sources under {ROOT}/src/main/scala")
    digest = hashlib.sha256(jars.encode())
    for p in main_src + harness_src:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "stamp")
    classes, harness = os.path.join(out, "classes"), os.path.join(out, "harness")
    os.makedirs(out, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        if os.path.exists(stamp):
            os.remove(stamp)
        scalac(jars, spark_cp, main_src, classes)
        scalac(jars, classes + ":" + spark_cp, harness_src, harness)
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    return ":".join([harness, classes, spark_cp])


if __name__ == "__main__":
    print(build())
