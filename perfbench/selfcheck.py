#!/usr/bin/env python3
"""Self-check of the benchmark's correctness gate.

    python3 perfbench/selfcheck.py [--seconds 1] [--seed 1]

Runs every workload twice with the same seed: once as is, and once with
--corrupt, which drops one row of an engine answer (a view row, a
lookup's line, a verdict) before the benchmark checks it. Passes when
every clean run reports correct with no failed operation, and every
corrupted run reports failure with a higher failed share. Exits 1
otherwise.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from run import WORKLOADS  # noqa: E402


def run(workload, seed, seconds, corrupt):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd + (["--corrupt"] if corrupt else []),
                         cwd=HERE.parent, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
        sys.exit(f"{workload}: run.py exited {out.returncode}")
    r = json.loads(out.stdout.strip().splitlines()[-1])
    return r["correct"], r["failed"] / r["attempted"]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seconds", type=int, default=1)
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    ok = True
    for w in WORKLOADS:
        clean = run(w, a.seed, a.seconds, False)
        bad = run(w, a.seed, a.seconds, True)
        passed = clean == (True, 0.0) and not bad[0] and bad[1] > clean[1]
        ok &= passed
        print(f"{w}: clean correct={clean[0]} failed_frac={clean[1]:.4f}; "
              f"corrupted correct={bad[0]} failed_frac={bad[1]:.4f} -> "
              f"{'ok' if passed else 'FAILED'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
