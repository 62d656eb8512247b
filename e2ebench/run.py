#!/usr/bin/env python3
"""End-to-end benchmark of graft's two programs and its fixed-point loops.

    python3 e2ebench/run.py --workload ingest|dashboard|loops --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds graft and the benchmark from
source when they changed (e2ebench/build.py), runs the workload in one
JVM with Spark at local[k], k = min(2, nproc/2), and one client thread,
checks every op's output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, from a traced run that also writes one span per layer
call to .bench_build/e2ebench/results/. The line before it is the run
record: set-up breakdown, fail ratio and run quality (host steal, load,
the engine-independent probe before and after).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RESULTS = os.path.join(build.OUT, "results")
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def slots():
    return max(1, min(2, (os.cpu_count() or 2) // 2))


def pinned_args(workload, seed, scale):
    with open(os.path.join(HERE, "pinned.json")) as fh:
        pins = json.load(fh)
    if seed != pins["seed"] or scale != pins["scale"]:
        return []
    if workload == "ingest" and pins.get("ingest"):
        return ["--pinned-ingest", pins["ingest"]]
    if workload == "loops" and pins.get("loops"):
        return ["--pinned-loops", ",".join(f"{q}={h}" for q, h in sorted(pins["loops"].items()))]
    return []


def run_jvm(cp, args):
    """Runs the benchmark JVM and returns its GRAFTBENCH record."""
    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", RESULTS, "--slots", str(slots()),
            "--scale", args.scale, "--launched-ms", str(int(time.time() * 1000))]
    cmd += pinned_args(args.workload, args.seed, args.scale)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    records = [l[len("GRAFTBENCH "):] for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0 or not records:
        fail(f"workload {args.workload} exited with {proc.returncode} and no record")
    return json.loads(records[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "dashboard", "loops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the self-test")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    rec = run_jvm(cp, args)
    got = rec.pop("metrics")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and not args.trace:
            fail(f"metric {m['name']} missing from the run")
        if v is not None and v["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {v['unit']}, BENCHMARK.json says {m['unit']}")
        # a layer this workload never calls did no work
        value = 0.0 if v is None or v["value"] is None else v["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"run_record": rec}, ensure_ascii=False))
    print(json.dumps({"correct": rec["failed"] == 0 and rec["attempted"] > 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
