#!/usr/bin/env python3
"""Benchmark self-test: every workload once at the self-test scale.

    python3 perfbench/selftest.py

Runs each workload untraced and traced at sf 0.001 on the default seed and
asserts that the last stdout line names every end-to-end (untraced) or
per-layer (traced) metric with its unit, that every operation ran, and that
every digest matches the one frozen in digests.json.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from freeze import SELFTEST_SF  # noqa: E402
from workloads import DEFAULT_SEED, WORKLOADS  # noqa: E402


def main():
    problems = []
    for name, wl in sorted(WORKLOADS.items()):
        if run.frozen_digests(name, DEFAULT_SEED, SELFTEST_SF, wl["replicas"]) is None:
            problems.append(f"{name}: no frozen digests at sf {SELFTEST_SF}")
        for trace, want in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(DEFAULT_SEED), "--seconds", "1", "--trace", str(trace),
                 "--sf", str(SELFTEST_SF)], capture_output=True, text=True)
            tag = f"{name} trace={trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
            else:
                res = json.loads(p.stdout.strip().splitlines()[-1])
                got = {n: m["unit"] for n, m in res["metrics"].items()}
                if got != dict(want):
                    problems.append(f"{tag}: metrics or units differ: "
                                    f"{sorted(set(got.items()) ^ set(want))}")
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"{tag}: correct={res['correct']} "
                                    f"failed={res['failed']}\n" + p.stderr[-2000:])
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for pr in problems:
        print("FAIL " + pr)
    print("selftest " + ("FAILED" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
