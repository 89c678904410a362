#!/usr/bin/env python3
"""Build file of the DiD engine benchmark.

Compiles the engine (`src/main/scala` of the checkout) and then the
benchmark (`didbench/src`) with the Scala compiler that ships among the
Spark jars, straight into `.bench_build/didbench/`. sbt is not used: it
keeps state under the user's home directory, and the benchmark must read
and write only inside its checkout.

Each step is skipped when a stamp holding the hash of its sources is
current, so only the first run in a checkout pays for the engine build
(about 2.5 minutes on 4 cores).

Run: `python3 didbench/build.py` from the root of a checkout.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "didbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "didbench", "src")


def spark_jars():
    """Jars of the Spark install, which include the Scala compiler:
    $SPARK_HOME/jars, else the jar directory the engine's build.sbt
    declares as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("[didbench] no Spark install found: set SPARK_HOME")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, dest, classpath):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + files
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def step(name, files, dest, classpath, upstream=""):
    """Compile `files` into `dest` unless its stamp matches the hash of
    the files and of the `upstream` step they compile against."""
    stamp = os.path.join(OUT, name + ".stamp")
    want = digest(files) + upstream
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return
        os.remove(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    print(f"[didbench] compiling {name} ({len(files)} files)", file=sys.stderr)
    scalac(files, dest, classpath)
    with open(stamp, "w") as fh:
        fh.write(want)


def classpath():
    """Runtime classpath: benchmark, engine, engine resources, Spark."""
    return os.pathsep.join([os.path.join(OUT, "bench-classes"),
                            os.path.join(OUT, "engine-classes"),
                            ENGINE_RES, os.path.join(spark_jars(), "*")])


def build():
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise SystemExit("[didbench] no engine sources under src/main/scala "
                         "or no benchmark sources under didbench/src; run "
                         "from the root of a full checkout")
    spark_cp = os.path.join(spark_jars(), "*")
    step("engine", engine, os.path.join(OUT, "engine-classes"), spark_cp)
    step("bench", bench, os.path.join(OUT, "bench-classes"),
         os.pathsep.join([os.path.join(OUT, "engine-classes"), spark_cp]),
         upstream=digest(engine))


if __name__ == "__main__":
    build()
