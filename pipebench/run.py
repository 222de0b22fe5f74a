"""The paper-pipeline benchmark: ORD .pb.gz -> train/test -> fingerprints.

    python3 pipebench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark from
source (build.py), then runs one JVM (pipebench.Main) that generates the
seeded corpus, times the workload's chain, checks its outputs and prints one
JSON result line, which is the last line of standard output. Everything the
run writes goes under .bench_build/ in the checkout. See NOTES.md.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
from build import BENCH, ROOT, BuildError, build, spark_jars

WORKLOADS = ("paper_pipeline", "extract_skewed_files")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is not made by spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build()
        jars = spark_jars()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    out_dir = ROOT / ".bench_build"
    work = out_dir / "work" / a.workload
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out_dir / "spark-local"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={out_dir / 'warehouse'}",
           "-cp", f"{classes}{os.pathsep}{jars}/*",
           "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict):
        print(f"benchmark JVM exited with {proc.returncode} without a result",
              file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
