#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json on the sf0.001 catalog for the
shortest run, untraced and traced, and fails unless each run prints
every end-to-end (untraced) or per-layer (traced) metric the file names,
each with its unit and a finite value, and no operation failed.
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if res["failed"] != 0 or not res["correct"]:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} ops failed")
            for m in spec[group]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(
                        got.get("value"), (int, float)) or not math.isfinite(got["value"]):
                    problems.append(f"{tag}: metric {m['name']} missing or malformed: {got}")
            print(f"[smoke] {tag}: {res['attempted']} ops, {res['failed']} failed", flush=True)
    for p in problems:
        print(f"[smoke] FAIL {p}")
    print("[smoke] ok" if not problems else f"[smoke] {len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
