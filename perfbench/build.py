#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's JVM side (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into
`perfbench/.build/graft-bench.jar`.

Usage: python3 perfbench/build.py   (from the repository root)

A stamp of the sources' content hash skips the compile when nothing
changed. Exits non-zero when the program's sources are missing.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"


def _spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the program's own
    build.sbt names as its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if not m:
        raise SystemExit("build: set SPARK_HOME to a Spark install")
    return Path(m.group(1))


SPARK_JARS = _spark_jars()


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + sorted((BENCH / "scala").rglob("*.scala"))


JAR = OUT / "graft-bench.jar"


def classpath():
    return str(JAR) + os.pathsep + str(SPARK_JARS / "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "stamp"
    h.update(Path(__file__).read_bytes())
    if stamp.exists() and stamp.read_text() == h.hexdigest() and JAR.exists():
        return
    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "classes").mkdir(parents=True)
    compiler = [str(next(SPARK_JARS.glob(f"scala-{n}-2.13*.jar")))
                for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(OUT / "classes"),
           "-classpath", str(SPARK_JARS / "*")] + [str(p) for p in srcs]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({res.returncode})")
    # a jar, not a directory: the JVM's class-data archive (see run.py)
    # only takes classes from jars
    shutil.make_archive(str(JAR.with_suffix("")), "zip", OUT / "classes")
    JAR.with_suffix(".zip").rename(JAR)
    shutil.rmtree(OUT / "classes")
    stamp.write_text(h.hexdigest())


if __name__ == "__main__":
    build()
