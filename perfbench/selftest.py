"""Self-tests of the benchmark, on the smoke-size inputs.

1. Every metric BENCHMARK.json declares is printed, by a trace-0 run for the
   end-to-end list and by a trace-1 run for the per-layer list, each with
   the declared unit, and every name matches [A-Za-z0-9_.-]+.
2. A deliberately corrupted output (--corrupt 1: a line appended to the
   pipeline's published CSV; a duplicated row in one catalog result) is
   counted as a failed op and the run reports correct = false.
3. Every per-layer metric has an entry in perfbench/layers.json.

Usage: python3 perfbench/selftest.py        (from the repository root;
takes about five minutes: four JVM runs)
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--corrupt", str(corrupt), "--size", "smoke"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layers = json.load(open(os.path.join(HERE, "layers.json")))
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    errors = []
    for m in bench["per_layer"]:
        if m["name"] not in layers["metrics"]:
            errors.append(f"layers.json has no entry for {m['name']}")
    for workload, trace, corrupt in [("pipeline", 0, 0), ("pipeline", 1, 1),
                                     ("catalog", 0, 1), ("catalog", 1, 0)]:
        res = run(workload, trace, corrupt)
        tag = f"{workload} trace={trace} corrupt={corrupt}"
        if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
            errors.append(f"{tag}: result keys {sorted(res)}")
        got = res["metrics"]
        for name, unit in declared[trace].items():
            if name not in got:
                errors.append(f"{tag}: metric {name} not printed")
            elif got[name].get("unit") != unit or not isinstance(got[name].get("value"), (int, float)):
                errors.append(f"{tag}: metric {name} printed as {got[name]}, declared unit {unit}")
        for name in got:
            if not NAME.fullmatch(name):
                errors.append(f"{tag}: metric name {name!r} is not [A-Za-z0-9_.-]+")
            if name not in declared[trace]:
                errors.append(f"{tag}: metric {name} printed but not declared")
        if corrupt and (res["failed"] < 1 or res["correct"]):
            errors.append(f"{tag}: corrupted output not counted as failed: {res}")
        if not corrupt and (res["failed"] != 0 or not res["correct"]):
            errors.append(f"{tag}: clean run reported failures: {res}")
        print(f"ok? {tag}: attempted={res['attempted']} failed={res['failed']}")
    if errors:
        print("\n".join("FAIL " + e for e in errors))
        sys.exit(1)
    print("PASS")


if __name__ == "__main__":
    main()
