#!/usr/bin/env python3
"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

From the repository root. At a tenth of the default input size (the
fixtures' sf0.001 shape) and a small non-zero seed, each workload runs
one pass untraced and traced; every metric BENCHMARK.json names must
come out with its unit. With one expected output corrupted, every
workload must report failures. Run outside a checkout (only
BENCHMARK.json and the benchmark directory), the runner must exit
non-zero without a result line. Exits non-zero on any problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = "3"


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if result is not None and "metrics" not in result:
        result = None
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        base = ["--workload", w, "--seed", SEED, "--seconds", "1", "--scale", "0.1"]
        for trace in (0, 1):
            code, res = _run(base + ["--trace", str(trace)])
            if code != 0 or res is None:
                problems.append(f"{w} trace={trace}: exit {code}, no result")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{w} trace={trace}: metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(wanted[trace].items()))}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: outputs failed their checks")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']}")
        code, res = _run(base + ["--trace", "0", "--corrupt-expected"])
        frac = None if res is None else 1.0 - res["metrics"]["ok_frac"]["value"]
        if code != 0 or res is None or res["correct"] or not frac:
            problems.append(f"{w}: a corrupted expected output was not reported (fail_frac={frac})")
        print(f"{w} corrupted: fail_frac={frac}")

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", SEED,
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            problems.append("outside a checkout the runner did not fail cleanly")
        print(f"bare directory: exit {proc.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # a run still owns a directory there

    for p in problems:
        print("PROBLEM:", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
