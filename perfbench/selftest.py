#!/usr/bin/env python3
"""Self-test of the benchmark.

Runs every workload of BENCHMARK.json once untraced and once traced, on the
sf0.001-sized `tiny` fixtures, and asserts that each run passes its
correctness gate and emits every metric BENCHMARK.json names for that mode,
with a finite value and the listed unit.

Usage, from the repo root:  python3 perfbench/selftest.py
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    spec = json.load(open("BENCHMARK.json"))
    problems = []
    for w in spec["workloads"]:
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            name = f"{w['name']} trace={trace}"
            before = len(problems)
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "1", "--seconds", "1", "--trace", trace, "--scale", "tiny"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{name}: result keys {sorted(res)}")
                continue
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{name}: gate failed: {res['attempted']} attempted, "
                                f"{res['failed']} failed, correct={res['correct']}")
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if (not isinstance(got, dict) or got.get("unit") != m["unit"] or
                        not isinstance(got.get("value"), (int, float)) or
                        not math.isfinite(got["value"])):
                    problems.append(f"{name}: metric {m['name']} = {got!r}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{name}: unlisted metrics {sorted(extra)}")
            if len(problems) == before:
                print(f"ok {name}: {len(res['metrics'])} metrics", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
