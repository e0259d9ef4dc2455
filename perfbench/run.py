#!/usr/bin/env python3
"""Run one benchmark workload (or the self-test) from the repo root.

    python3 perfbench/run.py --workload retrieval_single --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest --seed 1

Builds the engine and the benchmark from source first (build.py), then runs
perfbench.Main in one JVM at local[<cores>]. The last stdout line is the JSON
result. Inputs, Spark scratch space and traces live under the build dir
($CARGO_TARGET_DIR, default .bench_build); the per-run work dir is removed at
exit. Exits non-zero, printing no result, if the build or the run fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="a workload name from BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    classes = build.build()
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.build_dir(), "work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "perfbench.Main", "--seed", str(a.seed), "--work", work]
    cmd += ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    # a SIGTERM to this script must stop the JVM too (it has its own session)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
