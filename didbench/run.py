#!/usr/bin/env python3
"""Entry point of the DiD engine benchmark.

    python3 didbench/run.py --workload fit_large --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark on
first use (see build.py), then runs one workload on a local Spark session
with one driver JVM. The last line of standard output is the result JSON;
the line before it holds the run context. Everything the run writes stays
under `.bench_build/didbench/`; the traced run (`--trace 1`) also leaves
its spans in `.bench_build/didbench/traces/<workload>-seed<seed>.json`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fit_large", "aggte_serve")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# engine's own build (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run must not leave its JVM (or a compiler) behind: turn
    # the signal into SystemExit so the cleanup below runs
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))

    build.build()

    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_file = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "didbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--trace-file", trace_file])
    proc = subprocess.Popen(cmd)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        while proc.poll() is None and time.monotonic() < deadline:
            time.sleep(0.2)
        if proc.poll() is None:
            print(f"[didbench] run exceeded {RUN_TIMEOUT_S} s, killed",
                  file=sys.stderr)
            return 124
        return proc.returncode
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
