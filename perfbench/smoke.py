"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py

Run from the repository root. Checks that every workload runs, untraced and
traced; that each prints exactly the metrics BENCHMARK.json names, with their
units; that every answer matches its oracle; that a deliberately corrupted
expected answer is reported as a failure (so the check can fail); and that
the benchmark exits non-zero, printing no result, in a directory that holds
only BENCHMARK.json and the benchmark's own files. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(cwd: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "2",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 and cwd == ROOT:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(ROOT, "--workload", w, "--trace", str(trace))
            tag = f"{w} --trace {trace}"
            expect(code == 0 and res is not None, f"{tag}: exits 0 with a result")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result keys")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: prints every {kind} metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{tag}: every answer matches its oracle "
                   f"({res['failed']}/{res['attempted']} failed)")

    code, res = run(ROOT, "--workload", "serve", "--trace", "0", "--corrupt-oracle")
    expect(code == 0 and res is not None and res["failed"] > 0
           and not res["correct"], "corrupted expected answers are reported wrong")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(bare, "--workload", spec["workloads"][0]["name"])
    expect(code != 0 and res is None, "without the package: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
