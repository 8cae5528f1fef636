#!/usr/bin/env python3
"""Fast self-test of the benchmark: one traced run of every workload at
sf0.01. Checks that the result line parses and has every per-layer
metric, that the side file has every end-to-end metric, and that no
operation failed (fail_ratio 0). From the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from report import PER_LAYER_UNITS  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    bad = []
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", "7", "--seconds", "1", "--trace", "1"],
            capture_output=True, text=True, timeout=600)
        if proc.returncode:
            bad.append(f"{name}: exit {proc.returncode}: {proc.stderr[-2000:]}")
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, "out", f"{name}-seed7-trace1.json"),
                  encoding="utf-8") as fh:
            side = json.load(fh)
        if res["failed"] or not res["correct"] or side["fail_ratio"] != 0:
            bad.append(f"{name}: failures {side['passes']}")
        if set(res["metrics"]) != set(PER_LAYER_UNITS):
            bad.append(f"{name}: per-layer keys {sorted(res['metrics'])}")
        if set(side["end_to_end"]) != set(E2E_UNITS):
            bad.append(f"{name}: end-to-end keys {sorted(side['end_to_end'])}")
        print(name, "ok" if not bad else "FAILED", flush=True)
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
