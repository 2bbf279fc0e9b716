#!/usr/bin/env python3
"""Times count() against the full-column digest for every catalog_mix entry
(median of 3 after one untimed round) and prints a tab-separated table. Run
from the root of a checkout:

    python3 perfbench/tools/count_gap.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402  (perfbench/run.py: build and JVM launch)


def main():
    classpath = run.build()
    os.makedirs(os.path.join(run.BUILD, "logs"), exist_ok=True)
    log = os.path.join(run.BUILD, "logs", "count_gap.log")
    code = run.run_jvm(classpath, "perfbench.CountGap", [run.DATA], log, timeout=900)
    with open(log) as f:
        lines = [l for l in f if "\t" in l]
    sys.stdout.write("".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
