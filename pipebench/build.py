"""Build file of the pipeline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (pipebench/src) with the Scala compiler that ships
among Spark's jars, into .bench_build/classes at the root of the checkout.
A build is skipped when a stamp of every source file's path and content
matches the last one.

    python3 pipebench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "classes"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
COMPILER = "scala-compiler-2.13.17.jar"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars beside a spark-submit on PATH; the
    first that holds the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        homes = [Path(os.environ["SPARK_HOME"])]
    else:
        homes = [Path(d, "spark-submit").resolve().parent.parent
                 for d in os.environ.get("PATH", "").split(os.pathsep)
                 if Path(d, "spark-submit").is_file()]
    for home in homes:
        if (home / "jars" / COMPILER).exists():
            return home / "jars"
    raise BuildError(f"no {COMPILER} in $SPARK_HOME/jars or beside a "
                     "spark-submit on PATH")


def sources() -> list:
    program = sorted(PROGRAM_SRC.rglob("*.scala")) if PROGRAM_SRC.is_dir() else []
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    return program + sorted((BENCH / "src").rglob("*.scala"))


def build() -> Path:
    """Compile if a source changed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    stamp_file = OUT / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return OUT
    tmp = OUT.with_name("classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           *map(str, srcs)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=700)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(OUT, ignore_errors=True)
    tmp.rename(OUT)
    return OUT


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
