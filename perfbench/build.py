#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/scala) into
one class directory, with the Scala compiler that ships in Spark's jars.

The result is reused while no source file changes (a content hash is kept
next to the classes). Run it on its own with `python3 perfbench/build.py`.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars():
    """Spark's jars (with the Scala compiler) under $SPARK_HOME, else under a
    Spark installation whose bin/ is on PATH."""
    path_homes = [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
                  if (Path(d) / "spark-submit").is_file()]
    for home in [os.environ.get("SPARK_HOME"), *path_homes]:
        if home and any((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise SystemExit("build: no Spark jars with a Scala compiler under $SPARK_HOME or PATH")


SPARK_JARS = spark_jars()
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def classpath(extra=()):
    return os.pathsep.join([*map(str, extra), str(SPARK_JARS / "*")])


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d.relative_to(ROOT)}")
        out += sorted(d.rglob("*.scala"))
    return out


def build():
    """Compile if any source changed; return the class directory. Concurrent
    callers wait for each other on a lock file."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.sha256"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath(), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
