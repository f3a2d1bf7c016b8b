#!/usr/bin/env python3
#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""Runs the fault reproductions of perfbench/scala/Found.scala.

Usage: python3 perfbench/found.py   (from the repository root)
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import run  # noqa: E402


def main():
    build.build()
    work = BENCH / "out" / "found"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = run.jvm_command({"runDir": str(work)})
    cmd[-2:] = ["perfbench.Found", str(work)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, cwd=work, timeout=300,
                         env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")))
    print("\n".join(x for x in res.stdout.splitlines() if x.startswith("[found]")))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(res.returncode)


if __name__ == "__main__":
    main()
