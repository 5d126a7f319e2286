#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources and the
benchmark sources with the Scala compiler that ships in the Spark jar
directory, into `.bench_build/classes` under the repository root.

The build is skipped when a stamp over every source file, the jar
directory listing and the JVM version matches the last build.

    python3 perfbench/build.py            # build (or reuse) and print the classes dir
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: the `unmanagedBase` the repo's build.sbt
    names, else `$SPARK_HOME/jars`."""
    cands = []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in cands:
        if c.is_dir() and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    bench = BENCH_DIR / "src"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not any(str(f).startswith(str(bench)) for f in files):
        raise BuildError(f"benchmark sources missing: {bench}")
    return files


def stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.iterdir())).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                            text=True).stderr.encode())
    return h.hexdigest()


def build() -> tuple:
    """Returns (classes dir, jar dir). Raises BuildError on failure."""
    jars = spark_jars()
    files = sources()
    classes = BUILD_DIR / "classes"
    stamp_file = BUILD_DIR / "classes.stamp"
    want = stamp(files, jars)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes, jars
    tmp = BUILD_DIR / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    subprocess.run(["rm", "-rf", str(classes)], check=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
