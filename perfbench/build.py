#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src/main/scala`) with the Scala compiler that ships in
the Spark jars directory named by the repository's `build.sbt`
(`unmanagedBase`), or `$SPARK_HOME/jars`. Nothing is resolved or
downloaded, and every output stays under `.bench_build/` in the checkout.

The classes are packed into `.bench_build/graftbench-<hash>.jar`, keyed by a
hash of every source file, so a checkout is compiled once and a changed
source recompiles. (A jar, not a directory: the JVM's class-data sharing
archive, which run.py keeps next to it, only covers jars.)

    python3 perfbench/build.py            # compile, print the classpath
    python3 perfbench/build.py --test     # also compile and run the helper tests
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")
TEST_SRC = os.path.join(BENCH_DIR, "src", "test", "scala")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark jars directory the repository builds against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars directory: build.sbt names none and SPARK_HOME is unset")


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out_dir, classpath, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", ":".join(classpath)] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.replace(tmp, out_dir)


def jar_dir(src_dir, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in sorted(os.walk(src_dir)):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, src_dir))
    os.replace(tmp, jar)


def ensure_built():
    """Compile if needed; returns (classpath list, source hash)."""
    if not os.path.isdir(PROGRAM_SRC) or not scala_files(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    jars = spark_jars_dir()
    files = scala_files(PROGRAM_SRC) + scala_files(BENCH_SRC)
    h = source_hash(files)
    jar = os.path.join(BUILD_DIR, f"graftbench-{h}.jar")
    if not os.path.isfile(jar):
        os.makedirs(BUILD_DIR, exist_ok=True)
        for stale in glob.glob(os.path.join(BUILD_DIR, "graftbench-*")):
            os.remove(stale)
        classes = os.path.join(BUILD_DIR, "classes")
        scalac(jars, classes, [os.path.join(jars, "*")], files)
        jar_dir(classes, jar)
        shutil.rmtree(classes)
    return [jar, os.path.join(jars, "*")], h


def run_tests(classpath):
    files = scala_files(TEST_SRC)
    out = os.path.join(BUILD_DIR, "test-classes-" + source_hash(files))
    if not os.path.isdir(out):
        for stale in glob.glob(os.path.join(BUILD_DIR, "test-classes-*")):
            shutil.rmtree(stale, ignore_errors=True)
        scalac(spark_jars_dir(), out, classpath, files)
    return subprocess.run(["java", "-cp", ":".join([out] + classpath),
                           "graftbench.StatsCheck"]).returncode


def main():
    try:
        cp, _ = ensure_built()
        if "--test" in sys.argv[1:]:
            sys.exit(run_tests(cp))
        print(":".join(cp))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
