#!/usr/bin/env python3
"""The benchmark's own test: a tiny-input run of every workload, untraced
and traced, plus the bare-checkout case.

    python3 perfbench/smoke_test.py

Fails (exit 1) when a run exits non-zero, a workload's output check fails,
a declared metric is missing, or an end-to-end metric reads 0; and when a
directory holding only BENCHMARK.json and perfbench/ yields a result
instead of an error.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, workload, trace):
    return subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def check(workload, trace):
    p = run(ROOT, workload, trace)
    problems = []
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        problems.append(f"correct={out['correct']} failed={out['failed']} "
                        f"attempted={out['attempted']}: {p.stderr[-2000:]}")
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    names = [m["name"] for m in declared]
    if sorted(out["metrics"]) != sorted(names):
        problems.append(f"metrics {sorted(set(names) ^ set(out['metrics']))} differ")
    for m in declared:
        got = out["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{m['name']}: {got}")
        elif not trace and got["value"] <= 0:
            problems.append(f"{m['name']} reads {got['value']}")
    return problems


def bare():
    """Only BENCHMARK.json and perfbench/: no library to build, no result."""
    d = ROOT / ".bench_build" / "bare"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", d)
    shutil.copytree(HERE, d / "perfbench", ignore=shutil.ignore_patterns(
        "target", "__pycache__", "project/project"))
    p = run(d, SPEC["workloads"][0]["name"], 0)
    shutil.rmtree(d, ignore_errors=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return [] if p.returncode != 0 and '"correct"' not in last else [
        f"bare checkout: exit {p.returncode}, stdout {last[:200]}"]


def main():
    failures = []
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            probs = check(w["name"], trace)
            print(f"{'FAIL' if probs else 'ok  '} {w['name']} trace={trace}", flush=True)
            failures += [f"{w['name']} trace={trace}: {x}" for x in probs]
    probs = bare()
    print(f"{'FAIL' if probs else 'ok  '} bare checkout", flush=True)
    failures += probs
    for f in failures:
        print(" ", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
