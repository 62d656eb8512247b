#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size run of every workload (those in
BENCHMARK.json, plus `dashboard`), untraced and traced, asserting that the
last line is the result object, that every metric BENCHMARK.json names is
printed with its unit, and that no op failed (fail ratio 0).

    python3 e2ebench/selftest.py        # from the root of a checkout
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace}: exit {r.returncode}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in [w["name"] for w in spec["workloads"]] + ["dashboard"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w, trace)
            where = f"{w} trace={trace}"
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: result keys {sorted(res)}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{where}: {res['failed']} of {res['attempted']} ops failed")
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{where}: metric {m['name']} printed as {got}")
            if set(res["metrics"]) != {m["name"] for m in wanted}:
                problems.append(f"{where}: extra metrics "
                                f"{sorted(set(res['metrics']) - {m['name'] for m in wanted})}")
            print(f"{where}: {res['attempted']} ops, {res['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p)
    print("self-test", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
