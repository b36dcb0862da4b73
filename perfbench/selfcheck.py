#!/usr/bin/env python3
"""Self-check of the benchmark harness (about four minutes):

    python3 perfbench/selfcheck.py

1. An injected operation that throws and one whose output is wrong must each
   count as failed, be named, stay out of pass_s and make the exit code 1.
2. Every workload's traced run must print exactly BENCHMARK.json's per_layer
   names, every metric the harness computes must be listed there, and every
   listed name must be computed by some workload (no stale names).
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1


def run(workload, trace, inject=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    if inject:
        cmd += ["--inject", inject]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if not r.stdout.strip():
        sys.exit(f"{workload}: no result printed\n{r.stderr[-3000:]}")
    last = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "results", f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        record = json.load(f)
    return r.returncode, last, record


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    return cond


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    ok = True

    code, last, rec = run("tsdf", 0, "throw,wrong")
    timed = [p for p in rec["passes"] if p["phase"] == "timed"]
    ok &= expect(code == 1, f"injected failures exit 1 (got {code})")
    ok &= expect(last["failed"] == 2 and not last["correct"],
                 f"two failed operations reported (got {last['failed']})")
    ok &= expect(set(rec["failed"]) == {"inject_throw", "inject_wrong"},
                 f"failures named: {sorted(rec['failed'])}")
    ok &= expect(list(last["metrics"]) == e2e, "end-to-end names equal BENCHMARK.json's")
    ok &= expect(last["metrics"]["pass_s"]["value"] < statistics.median(p["wall_s"] for p in timed),
                 "failed operations are excluded from pass_s")

    computed = set()
    for w in [w["name"] for w in spec["workloads"]]:
        code, last, rec = run(w, 1)
        ok &= expect(code == 0 and last["failed"] == 0, f"{w}: traced run passes its checks")
        ok &= expect(list(last["metrics"]) == layers, f"{w}: per-layer names equal BENCHMARK.json's")
        computed |= set(rec["computed_metrics"])
    ok &= expect(computed == set(layers),
                 f"every per-layer name is computed by some workload "
                 f"(missing {sorted(set(layers) - computed)})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
