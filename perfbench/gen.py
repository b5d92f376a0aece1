"""Seeded live tick files for the `ticks` workload.

The files model the reference producer's poll cycle, one cycle per
file (BASELINE.md: the producer refetches the whole day every cycle
and the sink deduplicates). Each cycle sends new ticks over the keys
and re-sends every key's latest tick of the cycle before with a
revised value and a later `event_id`, as the refetch re-sends the
still-forming bar. Those re-sends are the duplicate `(user_id, ts)`
rows the upsert sink collapses.

Event times run behind the latest event time already landed by up to
`late_s` (the reference's 1 s watermark bound), so late rows reach the
engine in later micro-batches than newer ones. Per key, event time
never goes back from one file to the next: the ATR query runs its
recurrence in arrival order and its oracle in event-time order, and
the two agree only then. That is also why the unchanged re-sends of
closed bars are left out: each would reach ATR behind newer ticks of
its key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_US = 1_000_000


def tick_files(seed: int, n_files: int, per_file: int, interval_s: float,
               n_keys: int, start_us: int, first_id: int,
               late_s: float = 1.0) -> tuple[list[pa.Table], float]:
    """`n_files` files of `per_file` new ticks each plus the re-sends,
    file i covering event time [start_us + i * interval_s, ...) less
    the lateness. Returns the files in landing order and the largest
    lateness they carry, in seconds."""
    rng = np.random.default_rng(seed)
    span = int(interval_s * _US)
    # A re-send is up to one interval older than the tick it repeats.
    late = int((late_s - interval_s) * _US)
    last_ts = np.full(n_keys, start_us - 1, np.int64)  # per key, landed so far
    landed_max = start_us
    prev = None
    next_id = first_id
    files, late_max = [], 0
    for i in range(n_files):
        lo = start_us + i * span
        key = rng.integers(0, n_keys, per_file)
        ts = lo + rng.integers(0, span, per_file) - rng.integers(0, late, per_file)
        # A tick behind its key's latest moves to a random time between
        # that and the end of the file's span, which every earlier file
        # stays before.
        behind = ts <= last_ts[key]
        floor = last_ts[key[behind]] + 1
        ts[behind] = floor + (rng.random(behind.sum()) * (lo + span - floor)).astype(np.int64)
        new = {"ts": ts, "user_id": key,
               "event_type": EVENT_TYPES[rng.integers(0, 5, per_file)],
               "value": np.round(rng.exponential(50.0, per_file), 2),
               "props": rng.integers(0, 100, per_file)}
        rows = new
        if prev is not None:
            order = np.lexsort((prev["ts"], prev["user_id"]))
            k = prev["user_id"][order]
            latest = order[np.append(k[1:] != k[:-1], True)]
            resend = {c: v[latest] for c, v in prev.items()}
            resend["value"] = np.round(resend["value"] * np.exp(
                rng.normal(0.0, 0.01, len(latest))), 2)
            rows = {c: np.concatenate([resend[c], new[c]]) for c in new}
        shuffle = rng.permutation(len(rows["ts"]))
        rows = {c: v[shuffle] for c, v in rows.items()}
        late_max = max(late_max, landed_max - rows["ts"].min())
        landed_max = max(landed_max, rows["ts"].max())
        np.maximum.at(last_ts, rows["user_id"], rows["ts"])
        n = len(shuffle)
        files.append(pa.table({
            "event_id": pa.array(np.arange(next_id, next_id + n), pa.int64()),
            "ts": pa.array(rows["ts"].astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"]),
            "value": pa.array(rows["value"]),
            "props": pa.array([f'{{"k": {k}}}' for k in rows["props"]]),
        }))
        next_id += n
        prev = new
    return files, late_max / _US
