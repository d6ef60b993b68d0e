"""Build file of the benchmark package.

Compiles the engine sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships among the Spark jars, into ``<build dir>/classes``. The Spark jar
directory is the one the repository's ``build.sbt`` names as its
``unmanagedBase``, so the benchmark links against exactly the jars the
engine is built with. A stamp over every source file skips the compile
when nothing changed.

    python3 perfbench/build.py            # builds into .bench_build
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
BUILD_DIR = ROOT / ".bench_build"


class BuildFailed(Exception):
    pass


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildFailed("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildFailed("build.sbt names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not any(jars.glob("spark-sql_*.jar")) or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildFailed(f"no Spark/Scala compiler jars in {jars}")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildFailed("engine sources (src/main/scala) not found")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildFailed("no Scala sources found")
    return files


def build() -> Path:
    """Compile when the sources changed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = BUILD_DIR
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           "@" + str(args_file)]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildFailed(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailed as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
