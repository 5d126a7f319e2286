#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (cached under
`.bench_build/`), then runs one benchmark JVM with a local[4] Spark
session. Everything the run writes stays under `.bench_build/` in the
repository root. The last stdout line is the JSON result; the exit code
is non-zero when the build fails, the JVM fails or an output check fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_wide", "crawl_recrawl", "curate")
JVM_TIMEOUT_S = 175

# Same module openings and GC policy as the repo's build.sbt javaOptions,
# so the benchmark JVM runs the engine the way `sbt run` does.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    bd = build.BUILD_DIR
    run_dir = bd / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    # the engine's phase printlns would add stdout work to the timed region
    env.pop("GRAFT_TIMING", None)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
           "-XX:G1ReservePercent=15", "-XX:InitiatingHeapOccupancyPercent=35",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", str(bd)]
    proc = subprocess.Popen(cmd, cwd=str(run_dir), env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s, killed", file=sys.stderr)
        rc = 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
