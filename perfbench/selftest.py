#!/usr/bin/env python3
"""Short-mode self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload run.py defines (those in BENCHMARK.json and
``llm_corpus``) with ``--short`` (sf0.001 inputs, a short timed window)
once untraced and once traced, and fails unless each run exits 0, every
output check passes, and the run prints exactly the metrics BENCHMARK.json
declares for that mode (end-to-end untraced, per-layer traced), each with
its declared unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "1", "--short", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            where = f"{w} trace={trace}"
            if proc.returncode != 0 or not lines:
                problems.append(f"{where}: exit {proc.returncode}, no result")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            mine = []
            if not res["correct"] or res["failed"]:
                mine.append(f"{where}: {res['failed']} of {res['attempted']} failed")
            if got != declared[trace]:
                mine.append(f"{where}: metrics differ from BENCHMARK.json: "
                            f"missing {sorted(set(declared[trace]) - set(got))}, "
                            f"extra {sorted(set(got) - set(declared[trace]))}")
            problems += mine
            print(f"{where}: {'FAIL' if mine else 'ok'} "
                  f"({res['attempted']} ops, {len(got)} metrics)", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
