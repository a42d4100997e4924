#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at tiny size.

Usage (from the checkout root): python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced at
--size tiny (a 3x10^3-record feed; 60 documents, 3 appends), and fails
unless every run passes its output checks and prints exactly the
metric names BENCHMARK.json lists for that mode."""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    bad = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "1",
                                      "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if p.returncode == 0 else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}")
            if not res.get("correct") or res.get("failed"):
                problems.append(f"checks failed: {res.get('failed')} of {res.get('attempted')}")
            if got != want[trace]:
                problems.append(f"metric names/units differ: missing {sorted(set(want[trace]) - set(got))}"
                                f" extra {sorted(set(got) - set(want[trace]))}")
            print(f"{w['name']} trace={trace}: {'ok' if not problems else '; '.join(problems)}")
            bad += bool(problems)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
