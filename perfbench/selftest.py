#!/usr/bin/env python3
"""Self-test of the output checks: run every workload briefly with one output
corrupted, and require the run to report itself incorrect with a failed
operation share above 0.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    from run import WORKLOADS  # this file's directory is first on sys.path

    ok = True
    for workload in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
             "--seconds", "2", "--trace", "0", "--corrupt"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        fired = bool(result) and not result["correct"] and result["failed"] > 0
        frac = result["failed"] / result["attempted"] if result else None
        print(f"{workload}: exit {proc.returncode}, failed_op_frac {frac}, "
              f"check {'fired' if fired else 'DID NOT FIRE'}")
        ok &= fired
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
