"""Self-test of the benchmark at tiny input scale.

Runs ``run.py --scale tiny`` for every workload in BENCHMARK.json, once
untraced and once traced, and checks that:

- the last line of standard output is the result object, with exactly
  the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
- the untraced run emits exactly the ``end_to_end`` metrics and the
  traced run exactly the ``per_layer`` metrics, each with the unit
  BENCHMARK.json gives it, and count metrics are integers;
- both runs made the same calls and all outputs checked correct.

Usage, from the root of a checkout::

    python3 perfbench/selftest.py [--workload iterate ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "11", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def _check(workload: str, trace: int, result: dict, spec: list[dict]) -> list[str]:
    where = f"{workload} trace={trace}"
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not (result.get("correct") is True and result.get("failed") == 0 and result.get("attempted", 0) >= 1):
        problems.append(f"{where}: correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    if set(metrics) != set(want):
        problems.append(f"{where}: missing {sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}")
    for name, m in metrics.items():
        value, unit = m.get("value"), m.get("unit")
        if name in want and unit != want[name]:
            problems.append(f"{where}: {name} unit {unit!r} != {want[name]!r}")
        if not isinstance(value, (int, float)) or isinstance(value, bool) or not math.isfinite(value):
            problems.append(f"{where}: {name} value {value!r}")
        elif unit == "count" and not isinstance(value, int):
            problems.append(f"{where}: count {name} is not an integer: {value!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    problems = []
    for workload in args.workload or [w["name"] for w in bench["workloads"]]:
        plain_detail, plain = _run(workload, 0)
        traced_detail, traced = _run(workload, 1)
        problems += _check(workload, 0, plain, bench["end_to_end"])
        problems += _check(workload, 1, traced, bench["per_layer"])
        if set(plain_detail["per_call_median_s"]) != set(traced_detail["per_call_median_s"]):
            problems.append(f"{workload}: traced and untraced runs made different calls")
        print(f"{workload}: untraced {len(plain['metrics'])} metrics, traced {len(traced['metrics'])}, "
              f"{plain['attempted']} + {traced['attempted']} calls made", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
