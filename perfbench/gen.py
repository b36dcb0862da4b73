"""Seeded input generator: derives one workload's tables from the pool.

Every table is a re-keyed sample of the pool (itself a fixed sample of the
sf0.1 test data) with the pool's row shapes, so the same seed always gives
the same files and the program sees only these files.

- events: rows sampled without replacement, series (`user_id`) re-keyed by a
  seeded permutation, each series shifted in time by its own seeded offset,
  `event_id` renumbered in time order. `ts` is written as parquet
  TIMESTAMP(NANOS), the physical type the program's events readers expect.
- documents: one document per length stratum of the pool, a fixed share of
  them replaced by repeats of others (the duplicate-pair rate), ids re-keyed.
- stream (part of tsdf): a second events sample split into time-ordered
  files, one micro-batch each, with a seeded share of rows moved one file
  later ("late" rows). A late row always has a later row of its series in
  the file it left, so every per-series recurrence must drop it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")

# rows per generated table; the late share and file count shape the stream
SIZES = {
    "tsdf": {"events": 10_000, "stream_events": 1_000},
    "curation": {"documents": 40},
}
STREAM_FILES = 2
LATE_SHARE = 0.02
DUP_SHARE = 0.1
HALF_DAY_US = 12 * 3600 * 1_000_000


def _write(t, path):
    pq.write_table(t, path, version="2.6", coerce_timestamps=None)


def _events(rng, n):
    pool = pq.read_table(f"{POOL}/events.parquet")
    t = pool.take(np.sort(rng.choice(pool.num_rows, n, replace=False)))
    users = t["user_id"].to_numpy()
    distinct = np.unique(users)
    new_id = dict(zip(distinct, rng.permutation(len(distinct))))
    shift = dict(zip(distinct, rng.integers(-HALF_DAY_US, HALF_DAY_US, len(distinct))))
    ts = t["ts"].cast(pa.int64()).to_numpy()
    ts = ts + np.array([shift[u] for u in users])
    order = np.argsort(ts, kind="stable")
    t = t.take(order)
    cols = {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # µs values, stored as ns
        "ts": pa.array(ts[order] * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(np.array([new_id[u] for u in users[order]], dtype=np.int64)),
        "event_type": t["event_type"],
        "value": t["value"],
        "props": t["props"],
    }
    return pa.table(cols)


def _documents(rng, n):
    """One document from each of n length strata of the pool, so every seed
    carries about the same text volume, then DUP_SHARE of them replaced by
    copies of others, so every seed has the same number of exact repeats."""
    pool = pq.read_table(f"{POOL}/documents.parquet")
    n_dup = int(round(DUP_SHARE * n))
    by_len = np.argsort(pc.utf8_length(pool["text"]).to_numpy(), kind="stable")
    strata = np.array_split(by_len, n)
    picks = np.array([rng.choice(s) for s in strata])
    # a repeat copies the neighbouring stratum's pick, of about the same length
    at = rng.choice(n - 1, n_dup, replace=False)
    picks[at] = picks[at + 1]
    t = pool.take(picks)
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                     pa.array(rng.permutation(n).astype(np.int64)))
    return t.sort_by("doc_id")


def _split_stream(rng, ev, files):
    """Time-ordered files plus the late-row moves; returns (files, late mask)."""
    n = ev.num_rows
    file_of = (np.arange(n) * files) // n  # events are sorted by ts
    users = ev["user_id"].to_numpy()
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    late = np.zeros(n, dtype=bool)
    for f in range(files - 1):
        rows = np.flatnonzero(file_of == f)
        last = {}
        for r in rows:  # rows ascend in ts, so the final write is the series max
            last[users[r]] = r
        candidates = [r for r in rows if last[users[r]] != r]
        cand = np.array(candidates, dtype=np.int64)
        k = int(round(LATE_SHARE * len(rows)))
        pick = rng.choice(cand, min(k, len(cand)), replace=False)
        # at most one late row per series and file, never the series max
        seen = set()
        for r in pick:
            if users[r] not in seen:
                seen.add(users[r])
                late[r] = True
                assert ts[r] < ts[last[users[r]]]
    dest = file_of + late.astype(np.int64)
    return [ev.filter(pa.array(dest == f)) for f in range(files)], late


def generate(workload, seed, out_dir):
    """Write the workload's inputs under out_dir and return their description."""
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    meta = {"workload": workload, "seed": seed, "tables": {}}

    def record(name, t, path):
        _write(t, path)
        meta["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}

    size = SIZES[workload]
    if workload == "tsdf":
        record("events", _events(rng, size["events"]), f"{out_dir}/events.parquet")
        ev = _events(rng, size["stream_events"])
        parts, late = _split_stream(rng, ev, STREAM_FILES)
        src = f"{out_dir}/source"
        os.makedirs(src, exist_ok=True)
        for i, p in enumerate(parts):
            path = f"{src}/part-{i:05d}.parquet"
            record(f"source/part-{i:05d}", p, path)
            # the file source orders files by modification time
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        for sub, t in (("full", ev), ("on_time", ev.filter(pa.array(~late)))):
            os.makedirs(f"{out_dir}/{sub}", exist_ok=True)
            record(f"{sub}/events", t, f"{out_dir}/{sub}/events.parquet")
        meta["late_rows"] = int(late.sum())
        meta["files"] = STREAM_FILES
    elif workload == "curation":
        record("documents", _documents(rng, size["documents"]),
               f"{out_dir}/documents.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out_dir}/inputs.json", "w") as f:
        json.dump(meta, f, indent=1)
    return meta
