#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {tsdf,curation} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It compiles the checkout's sources together
with the harness (perfbench/build.sbt, once per source state), generates the
workload's inputs from the seed (gen.py), runs the JVM harness
(perfbench.Harness) on `local[4]`, checks every output, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, from passes run under Spark listeners.
A full record (seed, input rows and bytes, per-operation times, failures,
metrics) goes to perfbench/results/, and with --trace 1 the spans as well.
Any failed operation makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RESULTS = os.path.join(HERE, "results")
CORES = 4
HARNESS_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in BUILD_FILES:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; later runs reuse the classes."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def spark_jars():
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def run_harness(workload, data, work, seconds, trace, inject):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join([CLASSES, *spark_jars()]), "perfbench.Harness",
           workload, data, work, str(seconds), str(trace), ",".join(inject)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    raw = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"harness exited with {code}", 4)
    with open(raw) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_outputs(raw, data, work, meta):
    """Returns {op: reason} for every operation whose output is wrong.

    Batch outputs must equal the repository's DuckDB oracle on the same
    generated input; stream outputs must equal their batch twins, and each
    per-series recurrence must drop exactly the generator's late rows. Both
    compare with tools/check_oracle.py's rule: columns sorted by name, rows
    as a sorted multiset, floats by exact repr."""
    import duckdb
    from check_oracle import rows_key

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def read(path):
        return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()

    def same(a, b):
        ka, kb = rows_key(a), rows_key(b)
        if ka[0] != kb[0]:
            return f"columns differ: {ka[0]} vs {kb[0]}"
        if len(ka[1]) != len(kb[1]):
            return f"row count {len(kb[1])}, expected {len(ka[1])}"
        bad = sum(1 for x, y in zip(ka[1], kb[1]) if x != y)
        return f"{bad}/{len(ka[1])} rows differ" if bad else None

    ops = {o["name"]: o for o in raw["ops"]}
    first = raw["passes"][0]
    progress = {r["name"]: r for r in first["ops"]}
    bad = {}
    for name, c in raw["checks"].items():
        if "error" in progress[name]:
            continue  # already failed by its throw
        try:
            out = os.path.join(work, "out", name)
            if c.get("error"):
                bad[name] = c["error"]
            elif c["kind"] == "oracle":
                if not c.get("sql"):
                    bad[name] = f"no oracle SQL for {c['oracle']}"
                else:
                    bad[name] = same(con.sql(c["sql"]).df(), read(out))
            else:
                bad[name] = same(read(out + ".twin"), read(out))
                if not bad[name] and ops[name]["drops_late"]:
                    rows_in = sum(b["rows"] for b in progress[name]["batches"])
                    dropped = rows_in - c["sink_rows"]
                    if dropped != meta["late_rows"]:
                        bad[name] = f"dropped {dropped} rows, generator made {meta['late_rows']} late"
        except Exception as e:  # an unreadable output is a wrong output
            bad[name] = f"check error: {e}"
    return {k: v for k, v in bad.items() if v}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_time(p, failed):
    """Pass wall time without the operations that failed."""
    return p["wall_s"] - sum(r["total_s"] for r in p["ops"] if r["name"] in failed)


def end_to_end(raw, failed):
    timed = [p for p in raw["passes"] if p["phase"] == "timed"]
    attempted = len(raw["ops"])
    return {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median([pass_time(p, failed) for p in timed]),
        "ok_frac": (attempted - len(failed)) / attempted,
        "live_heap_mb": max(p["heap_mb"] for p in timed),
    }


PLAN_KEYS = ["exchanges", "broadcasts", "codegen_stages", "sorts", "object_ops"]


def per_layer(raw, failed):
    ops = {o["name"]: o for o in raw["ops"]}
    traced = [p for p in raw["passes"] if p["phase"] == "traced"]
    untraced = [p for p in raw["passes"] if p["phase"] == "timed"]
    per_pass = []
    for p in traced:
        m = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        recs = [r for r in p["ops"] if r["name"] not in failed]
        dropped, batch_s, batch_rows = [], [], 0
        for r in recs:
            L = r["layer"]
            add(f"op.{r['name']}.s", r["total_s"])
            add(f"{ops[r['name']]['module']}.s", r["total_s"])
            add("entry.construct_s", r["construct_s"])
            add("spark.plan_s", L["plan_s"])
            for k in ("exec_s", "task_s", "task_cpu_s", "gc_s", "jobs", "stages", "tasks"):
                add(f"spark.{k}", L[k])
            m["spark.task_skew"] = max(m.get("spark.task_skew", 0.0), L["task_skew"])
            add("shuffle.write_mb", L["shuffle_write_mb"])
            add("shuffle.read_mb", L["shuffle_read_mb"])
            add("shuffle.fetch_wait_s", L["fetch_wait_s"])
            add("shuffle.spill_mb", L["spill_mb"])
            plan = r.get("stream_plan") or L["plan"]
            for k in PLAN_KEYS:
                add(f"plan.{k}", plan.get(k, 0))
            if ops[r["name"]]["kind"] == "stream":
                b = r["batches"]
                d = lambda k: sum(x["durations_ms"].get(k, 0) for x in b) / 1e3
                add("streaming.start_s", r["start_s"])
                add("streaming.batches", len(b))
                add("streaming.add_batch_s", d("addBatch"))
                add("streaming.commit_s", d("walCommit") + d("commitOffsets"))
                add("streaming.plan_s", d("queryPlanning"))
                add("streaming.source_s", d("latestOffset") + d("getBatch"))
                add("streaming.state_commit_s", sum(x["state_commit_ms"] for x in b) / 1e3)
                add("streaming.state_rows", b[-1]["state_rows"])
                add("streaming.state_mb", b[-1]["state_bytes"] / 1e6)
                add("streaming.sink_rows", L["records_written"])
                rows = sum(x["rows"] for x in b)
                batch_rows += rows
                batch_s += [x["durations_ms"]["triggerExecution"] / 1e3 for x in b]
                if ops[r["name"]]["drops_late"]:
                    dropped.append(rows - L["records_written"])
        if dropped:
            # every recurrence drops the same late rows; report that count
            m["streaming.rows_dropped"] = max(dropped)
        if batch_s:
            m["streaming.batch_p50_s"] = statistics.median(batch_s)
            m["streaming.batch_max_s"] = max(batch_s)
            # the drain rate: rows over micro-batch time, query start excluded
            m["streaming.rows_per_s"] = batch_rows / sum(batch_s)
        m["spark.core_util"] = (m["spark.task_s"] / (m["spark.exec_s"] * CORES)
                                if m.get("spark.exec_s") else 0.0)
        per_pass.append(m)
    names = sorted({k for m in per_pass for k in m})
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in names}
    out["trace.overhead_frac"] = (median([pass_time(p, failed) for p in traced])
                                  / median([pass_time(p, failed) for p in untraced]) - 1.0)
    return out


def span_summary(spans):
    """Self time per span kind, and how much of each pass its op spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def covered(s):
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        total, end = 0, s["start_ns"]
        for a, b in iv:
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    self_s, coverage = {}, []
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        self_s[s["kind"]] = self_s.get(s["kind"], 0.0) + (dur - covered(s)) / 1e9
        if s["kind"] == "pass" and dur > 0:
            coverage.append(covered(s) / dur)
    return {"self_s_by_kind": self_s, "pass_coverage_by_ops": coverage}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tsdf", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="",
                    help="comma list of 'throw', 'wrong': add operations that must fail "
                         "(harness self-check only)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources next to the benchmark; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must name the Spark installation to build and run against")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()

    import gen
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.time()
        meta = gen.generate(a.workload, a.seed, data)
        t1 = time.time()
        inject = [x for x in a.inject.split(",") if x]
        raw = run_harness(a.workload, data, work, a.seconds, a.trace, inject)
        t2 = time.time()

        threw = {r["name"]: r["error"] for p in raw["passes"] for r in p["ops"]
                 if "error" in r}
        wrong = check_outputs(raw, data, work, meta)
        failed = {**wrong, **threw}
        e2e = end_to_end(raw, failed)
        layers = per_layer(raw, failed) if a.trace else {}
        wall = {"generate_s": t1 - t0, "harness_s": t2 - t1, "check_s": time.time() - t2}
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        computed = layers if a.trace else e2e
        unknown = sorted(set(computed) - {m["name"] for m in wanted})
        if unknown:
            die(f"metrics missing from BENCHMARK.json: {unknown}")
        # a layer this workload never enters did no work on it
        metrics = {m["name"]: {"value": computed.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}

        os.makedirs(RESULTS, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "inputs": meta, "failed": failed,
            "setup_s_each": raw["setup_s"], "wall": wall,
            "end_to_end": e2e, "per_layer": layers,
            "computed_metrics": sorted(computed),
            "passes": [{"phase": p["phase"], "wall_s": p["wall_s"], "heap_mb": p["heap_mb"],
                        "ops": {r["name"]: r["total_s"] for r in p["ops"]}}
                       for p in raw["passes"]],
        }
        if a.trace:
            record["spans"] = span_summary(raw["spans"])
            with open(os.path.join(RESULTS, f"{tag}-spans.json"), "w") as f:
                json.dump(raw["spans"], f)
        with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, why in sorted(failed.items()):
        print(f"FAILED {name}: {why}")
    print(json.dumps({"correct": not failed, "attempted": len(raw["ops"]),
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
