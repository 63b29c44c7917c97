#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny size, from the root of a checkout.

    python3 lakebench/smoke.py [workload ...]

For each workload it asserts that
  - an untraced run is correct and prints every end_to_end metric of
    BENCHMARK.json under its name with its unit, plus a summary line under
    2000 characters;
  - a traced run with one checked result deliberately corrupted prints every
    per_layer metric with its unit and reports correct = false;
and, once, that the benchmark refuses to run (non-zero exit, no result) in a
directory holding only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(args, cwd=ROOT):
    cmd = SPEC["command"] + args
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return p.returncode, [ln for ln in p.stdout.splitlines() if ln.strip()], p.stderr


def expect_metrics(result, declared, what):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    assert got == want, f"{what}: metrics differ from BENCHMARK.json: " \
        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
        f"units {[k for k in want if k in got and got[k] != want[k]]}"
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()), what


def check_workload(w):
    code, lines, err = run(["--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0", "--tiny"])
    assert code == 0 and lines, f"{w}: exit {code}\n{err[-2000:]}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{w}: keys {sorted(result)}"
    assert result["correct"] is True, f"{w}: output check failed on a clean run\n{err[-2000:]}"
    assert result["attempted"] >= 1 and result["failed"] == 0, f"{w}: {result}"
    expect_metrics(result, SPEC["end_to_end"], w)
    summary = [ln for ln in lines if ln.startswith("LAKEBENCH ")]
    assert summary and len(summary[-1]) < 2000, f"{w}: summary line missing or too long"

    code, lines, err = run(["--workload", w, "--seed", "2", "--seconds", "1", "--trace", "1", "--tiny",
                            "--corrupt"])
    assert code == 0 and lines, f"{w} (corrupt, traced): exit {code}\n{err[-2000:]}"
    result = json.loads(lines[-1])
    expect_metrics(result, SPEC["per_layer"], f"{w} traced")
    assert result["correct"] is False, f"{w}: a corrupted result passed the output check"
    print(f"ok {w}")


def check_refuses_without_repo():
    bare = os.path.join(ROOT, "lakebench", "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("work", "out", "target"))
    code, lines, _ = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(ln.startswith("{") for ln in lines), "ran without the repository"
    print("ok refuses to run without the repository")


def main():
    # catalog_commit is runnable though not in BENCHMARK.json's workloads
    names = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]] + ["catalog_commit"]
    check_refuses_without_repo()
    for w in names:
        check_workload(w)
    print("smoke ok")


if __name__ == "__main__":
    main()
