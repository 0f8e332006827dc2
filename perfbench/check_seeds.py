#!/usr/bin/env python3
"""Checks that two seeds give different inputs with the same operation mix.

    python3 perfbench/check_seeds.py [--seeds 1 2] [--workloads payload-decode ...]

Runs each workload briefly (untraced, one second) for both seeds and compares
their reports in `.bench_out/`: the digests of the generated inputs must
differ, the kinds of operation per cycle must be the same, and so must the
count of each kind among the operations run. Exits non-zero on a mismatch.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def report(workload, seed):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace0.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", nargs=2, type=int, default=[1, 2])
    ap.add_argument("--workloads", nargs="+", default=list(run.WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        a, b = (report(w, s) for s in args.seeds)
        ka, kb = (collections.Counter(o["kind"] for o in r["ops"]) for r in (a, b))
        # both runs complete whole cycles; compare kind counts per cycle
        cycles_a = len(a["ops"]) // sum(a["kinds_per_cycle"].values())
        cycles_b = len(b["ops"]) // sum(b["kinds_per_cycle"].values())
        per_cycle_a = {k: v // cycles_a for k, v in ka.items()}
        per_cycle_b = {k: v // cycles_b for k, v in kb.items()}
        checks = {
            "inputs differ": a["input_digest"] != b["input_digest"],
            "same kinds per cycle": a["kinds_per_cycle"] == b["kinds_per_cycle"],
            "same kind counts run": per_cycle_a == per_cycle_b == a["kinds_per_cycle"],
            "both correct": a["correct"] and b["correct"],
        }
        for name, passed in checks.items():
            print(f"{w}: {name}: {'ok' if passed else 'FAILED'}")
            ok = ok and passed
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
