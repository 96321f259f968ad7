"""Open-loop event generator for the ``events_countwin_open`` workload.

Runs as its own process so that its schedule does not slow when the
streaming job does. Every tick it writes one parquet file holding the
events created during that tick; a file is written under a hidden name
and renamed into place, so the file source never sees a partial file.

Each event carries ``created_ms``, the moment it was due. Event time
``ts`` lags it by up to two seconds of random jitter, so events arrive
out of order. ``user_id`` follows a bounded Zipf law and one value in
ten is zero, which the pipeline's ``non-zero`` filter drops.

Usage: python3 emitter.py --dir D --rate R --tick-ms T --start EPOCH_S
       --seconds S --seed N --summary PATH
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

USERS = 1000
ZIPF_S = 1.1
JITTER_MS = 2000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
        ("created_ms", pa.int64()),
    ]
)
SPARK_SCHEMA = "event_id long, ts timestamp, user_id long, value double, created_ms long"


def tick_table(rng: np.random.Generator, first_id: int, n: int, t0_ms: float, t1_ms: float) -> pa.Table:
    """``n`` events created uniformly in (t0_ms, t1_ms]."""
    cdf = np.cumsum(1.0 / np.arange(1, USERS + 1) ** ZIPF_S)
    users = np.searchsorted(cdf / cdf[-1], rng.random(n))
    created = np.sort(rng.uniform(t0_ms, t1_ms, n)).astype(np.int64) + 1
    ts_us = (created - rng.integers(0, JITTER_MS, n)) * 1000
    value = np.where(rng.random(n) < 0.1, 0.0, np.round(rng.exponential(50.0, n), 2) + 0.01)
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(users.astype(np.int64)),
            pa.array(value),
            pa.array(created),
        ],
        schema=SCHEMA,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()

    rng = np.random.default_rng([a.seed, 11])
    per_tick = a.rate * a.tick_ms // 1000
    n_ticks = int(a.seconds * 1000 // a.tick_ms)
    start_ms = a.start * 1000.0
    late = []
    for k in range(n_ticks):
        t0, due = start_ms + k * a.tick_ms, start_ms + (k + 1) * a.tick_ms
        table = tick_table(rng, k * per_tick, per_tick, t0, due)
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.dir, f".ev-{k:06d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(a.dir, f"ev-{k:06d}.parquet"))
        late.append(time.time() * 1000.0 - due)
    with open(a.summary, "w") as fh:
        json.dump({"files": n_ticks, "events": n_ticks * per_tick, "late_ms": late}, fh)


if __name__ == "__main__":
    main()
