"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all) it runs ``run.py`` on tiny inputs,
untraced and traced, and checks the output contract: the last stdout
line is a JSON object with exactly ``correct``, ``attempted``,
``failed`` and ``metrics``, every check passed, and the metrics are
exactly the ones ``BENCHMARK.json`` lists for that mode.  It then
checks that the benchmark refuses to run, without printing a result,
in a directory that holds only ``BENCHMARK.json`` and ``perfbench/``.
Exits non-zero on the first failure.
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


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check(workload: str, trace: int, spec: dict) -> None:
    r = _run(ROOT, workload, trace)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {r.returncode}\n"
                 f"{r.stderr[-3000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    problems = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        problems.append(f"checks {out['attempted']}/{out['failed']}")
    if got != want:
        problems.append(f"metrics differ: {sorted(set(got) ^ set(want))}")
    if not trace and any(v["value"] <= 0 for v in out["metrics"].values()):
        problems.append("an end-to-end metric is not positive")
    if problems:
        sys.exit(f"FAIL {workload} trace={trace}: {'; '.join(problems)}")
    print(f"ok {workload} trace={trace} ({out['attempted']} checks)",
          flush=True)


def check_refuses_without_program() -> None:
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=cache)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = _run(bare, "build", 0)
        last = (r.stdout.strip().splitlines() or [""])[-1]
        if r.returncode == 0 or last.startswith("{"):
            sys.exit("FAIL: the benchmark ran without the program")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok refuses to run without the program", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    check_refuses_without_program()
    for name in names:
        check(name, 0, spec)
        check(name, 1, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
