"""Fast self-test: every workload at tiny size through the benchmark command.

    python3 perfbench/run.py --selftest

Asserts that each workload prints every end-to-end metric it defines, by
name and with its unit, and that its last line is the result JSON; that
every workload BENCHMARK.json lists reports success_ratio 1.0; and that a
traced run of each listed workload prints every per-layer metric
BENCHMARK.json declares. A workload held out of BENCHMARK.json (nrt_churn,
blocked by an engine defect; see README.md) has its success_ratio printed,
not asserted.
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ALL = {"setup_s": "s", "query_p50_s": "s", "query_p90_s": "s", "peak_rss_mb": "MB",
       "success_ratio": "ratio", "index_bytes_per_text_byte": "ratio"}
EXPECTED = {
    "topk_serve": {**ALL, "build_turns_per_s": "turns/s"},
    "bulk_build": {**ALL, "build_turns_per_s": "turns/s"},
    "nrt_churn": {**ALL, "visible_p50_s": "s", "churn_turns_per_s": "turns/s"},
}
LINE = re.compile(r"^(\w+) (\S+) = (\S+) (\S+)$")


def run(workload: str, trace: int) -> tuple[dict[str, str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600, check=True).stdout.strip().splitlines()
    units = {}
    for line in out[:-1]:
        m = LINE.match(line)
        if m and m.group(1) == workload:
            units[m.group(2)] = m.group(4)
    return units, json.loads(out[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    problems = []
    for workload, expected in EXPECTED.items():
        units, result = run(workload, 0)
        for name, unit in expected.items():
            if units.get(name) != unit:
                problems.append(f"{workload}: {name} printed as {units.get(name)!r}, want {unit!r}")
        ratio = result["metrics"].get("success_ratio", {}).get("value")
        if workload in listed and (not result["correct"] or ratio != 1.0):
            problems.append(f"{workload}: correct={result['correct']} success_ratio={ratio}")
        print(f"{workload}: {len(units)} metrics, {result['attempted']} checked operations,"
              f" {result['failed']} failed{'' if workload in listed else ' (not listed)'}")
    for workload in listed:
        units, result = run(workload, 1)
        for m in spec["per_layer"]:
            if units.get(m["name"]) != m["unit"] or m["name"] not in result["metrics"]:
                problems.append(f"traced {workload}: per-layer {m['name']} missing")
    for p in problems:
        print("FAIL", p)
    print("SELFTEST", "FAIL" if problems else "PASS")
    return 1 if problems else 0
