#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main Scala sources and
the benchmark's own sources with the Scala compiler that ships in the Spark
distribution, against the same Spark jars as the repo's build. No sbt, no
network.

Usage: python3 perfbench/build.py   (from the repo root)

Outputs go to perfbench/.build/; a stamp of the source contents skips a
compile when its sources did not change.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(BENCH, ".build")
MAIN_CLASSES = os.path.join(BUILD, "main-classes")
BENCH_CLASSES = os.path.join(BUILD, "bench-classes")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def spark_jars_dir(repo_root):
    """The jars directory the repo's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(repo_root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")


def spark_classpath(jars_dir):
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"build: no scala-compiler jar under {jars_dir}")
    return jars


def scalac(srcs, out, classpath, jars):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {out}")


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_if_changed(srcs, out, classpath, jars, stamp):
    """Compile unless `out` was built from sources with this stamp."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    scalac(srcs, out, classpath, jars)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(repo_root):
    """Returns the benchmark's runtime classpath."""
    main_src = sources(os.path.join(repo_root, "src", "main", "scala"))
    bench_src = sources(os.path.join(BENCH, "src"))
    if not main_src:
        raise SystemExit("build: no Scala sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    jars_dir = spark_jars_dir(repo_root)
    jars = spark_classpath(jars_dir)
    main_stamp = digest(main_src, repo_root)
    compile_if_changed(main_src, MAIN_CLASSES, jars, jars, main_stamp)
    compile_if_changed(bench_src, BENCH_CLASSES, [MAIN_CLASSES] + jars, jars,
                       main_stamp + digest(bench_src, repo_root))
    return [BENCH_CLASSES, MAIN_CLASSES, os.path.join(jars_dir, "*")]


if __name__ == "__main__":
    build(os.getcwd())
    print("build: ok")
