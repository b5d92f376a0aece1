#!/usr/bin/env python
"""Derive degenerate-input fixture directories from an existing fixture
(default /root/testdata/sf0.001), one directory per case, each with the
source's tables. Only `events` changes; the other tables are symlinks
to the source files, which are never written.

Cases (all on `events`, the per-key series every indicator reads):

- `empty_events`: zero rows, same schema.
- `one_event_per_key`: each user_id keeps only its first event by
  (ts, event_id), so every window sees a one-row partition.
- `tied_ts`: within each user_id, every second event (in (ts,
  event_id) order) takes the ts of the event before it, so each key
  with two or more events has duplicate (user_id, ts) pairs and the
  event_id tie-break decides the order.

Usage: python tools/make_edge_fixture.py [src_dir] [dst_root]
writes dst_root/<case>/ for each case (default dst_root
/tmp/bdsm_edge).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CASES = ("empty_events", "one_event_per_key", "tied_ts")


def _key_sorted(events: pa.Table) -> tuple[pa.Table, np.ndarray]:
    """events sorted by (user_id, ts, event_id), and each row's
    position within its user_id."""
    order = pc.sort_indices(events, sort_keys=[
        ("user_id", "ascending"), ("ts", "ascending"),
        ("event_id", "ascending")])
    srt = events.take(order)
    users = srt["user_id"].to_numpy()
    starts = np.r_[True, users[1:] != users[:-1]][:len(users)]
    start_idx = np.maximum.accumulate(
        np.where(starts, np.arange(len(users)), 0))
    return srt, np.arange(len(users)) - start_idx


def derive(events: pa.Table, case: str) -> pa.Table:
    """The `events` table of one degenerate case."""
    if case == "empty_events":
        return events.slice(0, 0)
    srt, pos = _key_sorted(events)
    if case == "one_event_per_key":
        return srt.filter(pa.array(pos == 0))
    if case == "tied_ts":
        src = np.arange(len(pos)) - (pos % 2)
        ts = srt["ts"].take(pa.array(src))
        return srt.set_column(srt.schema.get_field_index("ts"), "ts", ts)
    raise ValueError(f"unknown edge case {case!r}; expected one of {CASES}")


def make_edge_fixtures(src_dir: str, dst_root: str) -> dict[str, str]:
    """Write every case under dst_root; returns case -> fixture dir."""
    events = pq.read_table(os.path.join(src_dir, "events.parquet"))
    dirs = {}
    for case in CASES:
        out = os.path.join(dst_root, case)
        os.makedirs(out, exist_ok=True)
        for fname in os.listdir(src_dir):
            if not fname.endswith(".parquet"):
                continue
            dst = os.path.join(out, fname)
            if os.path.lexists(dst):
                os.remove(dst)
            if fname == "events.parquet":
                pq.write_table(derive(events, case), dst)
            else:
                os.symlink(os.path.abspath(os.path.join(src_dir, fname)), dst)
        dirs[case] = out
    return dirs


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bdsm_edge"
    for case, path in make_edge_fixtures(src, dst).items():
        print(case, path)
