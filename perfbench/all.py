"""Run every benchmark workload for one seed, one after another.

    python3 perfbench/all.py --seed 1 [--seconds 10] [--trace 0|1]

Run from the repo root. Each workload runs through `perfbench/run.py` in
its own JVM and prints its metrics by name with units and its result
line. The exit code is 0 only if every workload ran and passed every
output check.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdx_index", "crawl_waves", "dedup_rewrite")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    failed = []
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)])
        if r.returncode != 0:
            failed.append(w)
    if failed:
        print(f"perfbench: failed workloads: {' '.join(failed)}", file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
