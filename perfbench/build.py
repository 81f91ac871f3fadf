#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark runner (perfbench/scala) into .bench_build/classes, using the
Scala compiler that ships in Spark's jars directory ($SPARK_HOME/jars,
or the one next to `spark-submit` on PATH). Nothing is fetched. A build
is skipped when the sources, the jar set and this file are unchanged.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = (ROOT / "src" / "main" / "scala", HERE / "scala")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(os.path.realpath(exe)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(str(p) for p in d.rglob("*.scala"))
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the classes directory, compiling first if it is stale."""
    files = sources()
    jars = spark_jars()
    want = stamp(files, jars)
    marker = CLASSES / ".stamp"
    if marker.is_file() and marker.read_text() == want:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}{os.sep}*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
