"""Fast self-test of the benchmark itself (about two minutes):

    python3 perfbench/selftest.py

For each workload, at the tiny input size with one warm pass:
- an untraced run prints every end-to-end metric with its unit, and
  every output checks correct;
- a traced run with every output deliberately damaged prints every
  per-layer metric with its unit, and its fail ratio is above zero.
It also checks that BENCHMARK.json (when present) lists the metrics the
runs print, and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, _per_layer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
         "--seconds", "0", "--min-passes", "1", "--tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def check_result(res: dict | None, units: dict[str, str]) -> None:
    assert res is not None, "no JSON result line"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == units, set(got) ^ set(units)
    for k, v in res["metrics"].items():
        assert set(v) == {"value", "unit"} and isinstance(v["value"], float), (k, v)


def main() -> int:
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(spec):
        with open(spec) as f:
            b = json.load(f)
        assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
        assert {m["name"]: m["unit"] for m in b["per_layer"]} == _per_layer()
        assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)

    for w in WORKLOADS:
        code, res = bench("--workload", w, "--trace", "0")
        assert code == 0, f"{w}: exit {code}"
        check_result(res, END_TO_END)
        assert res["correct"] and res["failed"] == 0, (w, res)

        code, res = bench("--workload", w, "--trace", "1", "--corrupt")
        assert code == 0, f"{w} corrupt: exit {code}"
        check_result(res, _per_layer())
        assert res["failed"] > 0 and not res["correct"], (w, res)
        assert res["metrics"]["run.fail_ratio"]["value"] > 0
        print(f"{w}: ok ({res['failed']} of {res['attempted']} damaged outputs caught)")

    # without the program next to it the benchmark must fail, not report
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        code, res = bench("--workload", "panel", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and res is None, (code, res)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
