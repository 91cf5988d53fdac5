#!/usr/bin/env python3
"""Traced breakdown of every workload, as markdown.

    python3 perfbench/breakdown.py --seed 1 --seconds 20 > breakdown.md

Runs each workload once with --trace 1 (untraced and traced passes
alternate in one JVM) and prints, per workload, the self time of every
span name per traced pass, the unattributed time, the wall time they add
up to, and every nonzero per-layer metric.
"""
import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()
    for w in run.WORKLOADS:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res = run.run_one(os.getcwd(), w, a.seed, a.seconds, True)
        lines = buf.getvalue().splitlines()
        print(f"## {w}\n")
        print(f"correct: {res['correct']}, attempted: {res['attempted']}, failed: {res['failed']}\n")
        print("```")
        print("\n".join(lines))
        print("```\n")
        print("| metric | value | unit |\n|---|---|---|")
        for k, v in res["metrics"].items():
            if v["value"]:
                print(f"| `{k}` | {v['value']:.6g} | {v['unit']} |")
        print()


if __name__ == "__main__":
    main()
