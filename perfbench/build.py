#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/scala) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/classes. A rebuild happens
only when a source file changes: the build stamps the classes with a hash
of every source.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def spark_jars():
    """The jars of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else a spark-submit on PATH, else the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d or ".") / "spark-submit"
        if submit.is_file():
            candidates.append(submit.resolve().parent.parent / "jars")
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        candidates.append(Path(spec.origin).parent / "jars")
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"missing source directory {d}")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the classpath to run with."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / "BUILD_STAMP"
    if not (stamp_file.is_file() and stamp_file.read_text() == want):
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        args_file = BUILD / "sources.txt"
        args_file.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               # an explicit classpath keeps the working directory off it
               "-classpath", str(tmp), "-d", str(tmp), f"@{args_file}"]
        print("perfbench: compiling %d sources" % len(files), file=log)
        res = subprocess.run(cmd, stdout=log, stderr=log)
        if res.returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        (tmp / "BUILD_STAMP").write_text(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp.rename(CLASSES)
    return f"{CLASSES}{os.pathsep}{jars}/*"


if __name__ == "__main__":
    print(build())
