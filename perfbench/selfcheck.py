"""Self-check of the benchmark on an sf0.001-sized corpus (1,000 docs).

    python3 perfbench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
and asserts, for each run, that the command exits 0, that its last stdout
line is the result object, that it prints exactly the metrics
``BENCHMARK.json`` names for that mode with the same units, and that no
op failed.  Takes about three minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SELF_CHECK_DOCS = 1_000


def check_run(workload: str, trace: int, expected: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace),
           "--docs", str(SELF_CHECK_DOCS)]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=300)
    label = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{label}: exit code {p.returncode}\n{p.stderr[-2000:]}"]
    try:
        result = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError) as e:
        return [f"{label}: last stdout line is not a JSON object ({e})"]
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        problems.append(f"{label}: correct={result.get('correct')} "
                        f"attempted={result.get('attempted')} failed={result.get('failed')}")
    printed = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    for name, unit in expected.items():
        if name not in printed:
            problems.append(f"{label}: metric {name} not printed")
        elif printed[name] != unit:
            problems.append(f"{label}: metric {name} printed in {printed[name]}, expected {unit}")
    problems += [f"{label}: metric {k} is not in BENCHMARK.json" for k in printed
                 if k not in expected]
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    modes = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in bench["workloads"]:
        for trace, expected in modes.items():
            found = check_run(w["name"], trace, expected)
            print(f"{w['name']} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p)
    print("FAILURES: none" if not problems else f"FAILURES: {len(problems)}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
