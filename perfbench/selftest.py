#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced, and
checks that each prints every metric BENCHMARK.json names with its unit,
that its exit status is 0 exactly when the result is correct,
that every op's triple digest was checked and matched, and that the traced
run's checkpointed and streaming probes agreed with the reference. Then
checks that a wrong expected digest fails the run with exit 1, and runs
the benchmark in a directory holding only BENCHMARK.json and the
benchmark's files, where it must exit non-zero without a result. Exits 1 on
the first failed check.
"""

from __future__ import annotations

import json
import numbers
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SEED = 3


def run(args, cwd=REPO):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    return subprocess.run(cmd + args, cwd=cwd, capture_output=True,
                          text=True, timeout=180)


def check(cond: bool, what: str) -> None:
    if not cond:
        print(f"FAIL: {what}", file=sys.stderr)
        sys.exit(1)


def check_run(workload: str, trace: int, spec: dict) -> None:
    p = run(["--workload", workload, "--seed", str(SEED), "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny"])
    what = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    check(len(lines) >= 2 and '"metrics"' in lines[-1],
          f"{what}: no result, exit {p.returncode}\n{p.stderr[-3000:]}")
    diag, res = json.loads(lines[-2]), json.loads(lines[-1])
    check(set(res) == {"correct", "attempted", "failed", "metrics"},
          f"{what}: result keys {sorted(res)}")
    check(p.returncode == (0 if res["correct"] is True else 1),
          f"{what}: exit {p.returncode} with correct={res['correct']}")
    check(res["correct"] is True and res["failed"] == 0
          and res["attempted"] >= 1, f"{what}: {res}")
    named = spec["per_layer" if trace else "end_to_end"]
    check(set(res["metrics"]) == {m["name"] for m in named},
          f"{what}: metric names differ from BENCHMARK.json")
    for m in named:
        got = res["metrics"][m["name"]]
        check(got["unit"] == m["unit"], f"{what}: unit of {m['name']}")
        check(isinstance(got["value"], numbers.Real)
              and not isinstance(got["value"], bool),
              f"{what}: value of {m['name']}")
    checks = diag["digest_checks"]
    check(len(checks) == diag["ops"]
          and all(c["digest"] == c["expected"] for c in checks),
          f"{what}: digest checks {checks}")
    if trace:
        paths = diag["cross_path"]
        check("checkpointed" in paths
              and all(v["digest"] == v["expected"] for v in paths.values()),
              f"{what}: cross-path checks {paths}")
    print(f"ok  {what}: {len(named)} metrics, {len(checks)} digest checks")


def check_mismatch_fails() -> None:
    """A run whose triples differ from the expected digest must report
    correct=false and exit 1. The expected digest of the tiny fused_fresh
    op of an otherwise unused seed is replaced in the reference cache, and
    put back afterwards."""
    sys.path[:0] = [HERE, REPO]
    import run as bench
    seed = SEED + 1
    cache = os.path.join(bench.WORK, "oracle", f"{bench.code_version()}.json")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    saved = None
    if os.path.exists(cache):
        with open(cache) as f:
            saved = f.read()
    digests = json.loads(saved) if saved else {}
    digests[f"fused_fresh:tiny:{seed}:0"] = "0" * 64
    with open(cache, "w") as f:
        json.dump(digests, f)
    try:
        p = run(["--workload", "fused_fresh", "--seed", str(seed),
                 "--seconds", "1", "--trace", "0", "--scale", "tiny"])
    finally:
        if saved is None:
            os.remove(cache)
        else:
            with open(cache, "w") as f:
                f.write(saved)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    check(p.returncode == 1 and res["correct"] is False
          and res["failed"] == 1,
          f"digest mismatch: exit {p.returncode}, result {res}")
    print("ok  digest mismatch: exit 1, correct=false, 1 failed op")


def check_without_repo() -> None:
    bare = os.path.join(REPO, ".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        paths = json.load(f)["paths"]
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    for d in paths:
        shutil.copytree(os.path.join(REPO, d), os.path.join(bare, d),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", "fused_fresh", "--seed", str(SEED),
             "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and '"metrics"' not in p.stdout,
          f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    print("ok  bare directory: exits", p.returncode, "without a result")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(w["name"], trace, spec)
    check_mismatch_fails()
    check_without_repo()
    return 0


if __name__ == "__main__":
    sys.exit(main())
