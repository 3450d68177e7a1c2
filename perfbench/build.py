#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark harness (`perfbench/scala`) in one pass with the Scala
compiler that ships in the Spark distribution's jars, so no build tool
or network access is needed.

The Spark distribution is found through $SPARK_HOME, else through
`spark-submit` on the PATH. The build is skipped when a stamp over the
sources and the jar list matches the last successful build.

Usage: python3 perfbench/build.py     (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"


def spark_jars() -> list:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        sys.exit(f"build: no Spark jars with a Scala compiler under {home}/jars")
    return [str(j) for j in jars]


def sources() -> list:
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        sys.exit("build: no program sources under src/main/scala")
    return [str(p) for p in prog + sorted((BENCH / "scala").glob("*.scala"))]


def build() -> str:
    """Returns the runtime classpath, compiling first when stale."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256("\n".join(jars).encode())
    for s in srcs:
        h.update(s.encode())
        h.update(Path(s).read_bytes())
    stamp = h.hexdigest()
    cp = os.pathsep.join(jars)
    if STAMP.exists() and STAMP.read_text() == stamp:
        return str(CLASSES) + os.pathsep + cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = WORK / "sources.txt"
    argfile.write_text("\n".join(srcs) + "\n")
    proc = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(CLASSES), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("build: compilation failed")
    STAMP.write_text(stamp)
    return str(CLASSES) + os.pathsep + cp


if __name__ == "__main__":
    build()
