#!/usr/bin/env python3
"""Reproduces the statement-pipeline defects listed in perfbench/README.md.

    python3 perfbench/defects.py

Run from the root of the checkout. Builds like the benchmark, generates one
ordinary statement batch and one January batch, and runs perfbench.Defects,
which prints one REPRODUCED / NOT REPRODUCED line per defect.
"""
import os
import shutil
import subprocess
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen_statements  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    base = os.path.join(build.BUILD, "defects")
    shutil.rmtree(base, ignore_errors=True)
    gen_statements.generate(os.path.join(base, "ordinary"), 1, 1, 5)
    gen_statements.generate(os.path.join(base, "january"), 1, 1, 5, first_close=date(2026, 1, 1))
    subprocess.run(["java", "-Xmx1g", *build.jvm_flags()] + run.JDK_OPENS + [
        "-cp", classpath, "perfbench.Defects", os.path.join(base, "ordinary", "m01"),
        os.path.join(base, "january", "m01"), os.path.join(base, "out")], check=True)


if __name__ == "__main__":
    main()
