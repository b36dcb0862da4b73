#!/usr/bin/env python3
"""Derive the benchmark's input pool from an sf0.1 test-data directory.

The pool is committed next to this script so that a checkout can generate
its inputs without reading anything outside itself. Rerun only when the
source tables change:

    python3 perfbench/make_pool.py <sf0.1 dir>

It keeps a fixed 40% sample of `events` (every series, the whole month) and
all of `documents`, unchanged row by row.
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")


def main():
    src = sys.argv[1]
    os.makedirs(POOL, exist_ok=True)
    ev = pq.read_table(f"{src}/events.parquet")
    keep = np.sort(np.random.default_rng(0).choice(ev.num_rows, 40_000, replace=False))
    tables = {
        "events": ev.take(keep),
        "documents": pq.read_table(f"{src}/documents.parquet"),
    }
    for name, t in tables.items():
        t = t.replace_schema_metadata(None)
        pq.write_table(t, f"{POOL}/{name}.parquet", compression="zstd",
                       compression_level=19)
        print(name, t.num_rows, os.path.getsize(f"{POOL}/{name}.parquet"))


if __name__ == "__main__":
    main()
