#!/usr/bin/env python3
"""Self-test of the load-spine benchmark at tiny size.

    python3 perfbench/selftest.py

1. A clean file_landing run passes: exit 0, correct, no failed unit, and
   it prints exactly the end-to-end metrics BENCHMARK.json names.
2. The same run with two planted faults must fail: a destination file
   deleted through Runner.ChaosHooks.beforeReceiptProbe (the receipt
   probe must refuse the commit) and one corrupted generated row (the
   program loads it, the independent truth check must catch it). The
   command exits non-zero and reports both.
3. A traced tiny run prints exactly the per-layer metrics BENCHMARK.json
   names.
4. In a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = detail = None
    for l in lines:
        try:
            obj = json.loads(l)
        except ValueError:
            continue
        if "perfbench_detail" in obj:
            detail = obj["perfbench_detail"]
        elif "correct" in obj:
            result = obj
    return p.returncode, result, detail


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    base = ["--workload", "file_landing", "--seed", "3", "--seconds", "6", "--size", "tiny"]
    problems = []

    code, result, detail = run(base + ["--trace", "0"])
    if code != 0 or not result or not result["correct"] or result["failed"] != 0:
        problems.append(f"clean run: exit {code}, result {result}, failures {detail and detail['failures']}")
    elif set(result["metrics"]) != e2e:
        problems.append(f"clean run metrics {sorted(result['metrics'])} != {sorted(e2e)}")

    code, result, detail = run(base + ["--trace", "0", "--fault", "receipt,corrupt"])
    failures = (detail or {}).get("failures", [])
    if code == 0 or not result or result["correct"]:
        problems.append(f"faulted run was not refused: exit {code}, result {result}")
    else:
        if result["failed"] < 1 or not any("receipt verification failed" in f for f in failures):
            problems.append(f"receipt fault not reported: {failures}")
        if not any(f.startswith("check 'destination equals") for f in failures):
            problems.append(f"corrupted row not reported: {failures}")

    code, result, detail = run(base + ["--trace", "1"])
    if code != 0 or not result or set(result["metrics"]) != layers:
        problems.append(f"traced run: exit {code}, metrics {result and sorted(result['metrics'])}")

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/project", "__pycache__"))
    code, result, _ = run(["--workload", "file_landing", "--seed", "1", "--seconds", "5", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        problems.append(f"bare directory: exit {code}, result {result}")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
