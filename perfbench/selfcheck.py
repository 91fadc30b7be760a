"""Self-check of the benchmark at sf0.001 (about four minutes).

For every workload listed in BENCHMARK.json, one short run untraced and one
traced, each through ``perfbench/run.py`` exactly as the benchmark is run.
Asserts that each prints a result line with exactly ``correct``,
``attempted``, ``failed`` and ``metrics``; that no operation failed; and that
every end-to-end (untraced) or per-layer (traced) metric named in
BENCHMARK.json is emitted with its unit and a finite value. It also checks
that BENCHMARK.json and the harness name the same metrics and units.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def check_result(line: str, expected: dict[str, str], label: str) -> list[str]:
    errors = []
    result = json.loads(line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(result)}")
        return errors
    if result["correct"] is not True or result["failed"] != 0:
        errors.append(f"{label}: correct={result['correct']} failed={result['failed']}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        errors.append(f"{label}: attempted={result['attempted']}")
    metrics = result["metrics"]
    if set(metrics) != set(expected):
        errors.append(
            f"{label}: missing {sorted(set(expected) - set(metrics))},"
            f" unexpected {sorted(set(metrics) - set(expected))}"
        )
    for name, unit in expected.items():
        m = metrics.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errors.append(f"{label}: {name} unit {m.get('unit')!r}, expected {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{label}: {name} value {v!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errors = []
    if e2e != END_TO_END:
        errors.append(f"BENCHMARK.json end_to_end differs from harness: {e2e} vs {END_TO_END}")
    if layers != PER_LAYER:
        errors.append("BENCHMARK.json per_layer differs from harness.PER_LAYER")
    for w in spec["workloads"]:
        if w["name"] not in WORKLOADS:
            errors.append(f"workload {w['name']} is not defined in harness.WORKLOADS")
            continue
        for trace, expected in ((0, e2e), (1, layers)):
            label = f"{w['name']} trace={trace}"
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=300,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                errors.append(f"{label}: exit {proc.returncode}, no result line")
                continue
            errs = check_result(lines[-1], expected, label)
            errors += errs
            print(f"{'FAIL' if errs else 'ok  '} {label}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("self-check", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
