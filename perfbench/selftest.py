"""Self-test of the benchmark at a tiny size, one iteration per workload.

    python3 perfbench/selftest.py

Run from the root of a checkout.  For each workload it runs run.py with
small inputs (``--scale``) and ``--seconds 0``, so every closed loop runs
only its minimum number of operations, once untraced and once traced.  It
asserts that the result line names exactly the end-to-end (untraced) or
per-layer (traced) metrics of BENCHMARK.json, each with its unit, and that
nothing failed.  Then it runs parse_batch with one checked node row dropped
(``--corrupt``) and asserts that ``failed_frac`` is above 0.  It exits 0
when every assertion holds."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.1
TIMEOUT_S = 600


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
        "--seconds", "0", "--trace", str(trace), "--scale", str(SCALE), *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=TIMEOUT_S)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(result: dict, declared: list, label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, (label, sorted(result))
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, (label, "names or units differ", sorted(set(got) ^ set(want)))
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (label, name, m)
    assert result["attempted"] >= 1, (label, result["attempted"])
    assert result["failed"] == 0 and result["correct"] is True, (label, "failed", result["failed"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        name = w["name"]
        check_result(run(name, 0), spec["end_to_end"], f"{name} untraced")
        traced = run(name, 1)
        check_result(traced, spec["per_layer"], f"{name} traced")
        assert traced["metrics"]["failed_frac"]["value"] == 0, (name, traced["metrics"]["failed_frac"])
        print(f"ok   {name}: every metric named with its unit, failed_frac 0", flush=True)

    corrupt = run("parse_batch", 1, "--corrupt")
    assert corrupt["metrics"]["failed_frac"]["value"] > 0, corrupt["metrics"]["failed_frac"]
    assert corrupt["correct"] is False and corrupt["failed"] >= 1, corrupt
    print(f"ok   parse_batch --corrupt: failed_frac {corrupt['metrics']['failed_frac']['value']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
