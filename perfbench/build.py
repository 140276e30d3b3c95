#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src, perfbench/tests) with the Scala
compiler that ships in Spark's jars directory (the one the project's
build.sbt compiles against), into .bench_build/classes.

The build is skipped when the stamp (a hash of every source file) matches.
Run it directly with `python3 perfbench/build.py`; run.py calls it first.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"
CLASSES = BUILD_DIR / "classes"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = [BENCH_DIR / "src", BENCH_DIR / "tests"]


def spark_jars() -> Path:
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase of build.sbt."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler jar under {jars}")
    return jars


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala"))
    for d in BENCH_SRC:
        files += sorted(d.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no Scala sources")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build() -> None:
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return
    jars = spark_jars()
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)


if __name__ == "__main__":
    build()
