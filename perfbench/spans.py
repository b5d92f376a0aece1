"""Spans and layer probes for the traced run, all from outside the
engine: the probes wrap the engine's public functions at their module
bindings for the traced phase only, and job-level numbers come from
Spark's status tracker and status store.

A span is a dict with `id`, `parent`, `name`, `start`, `end` (wall
clock, seconds) and free attributes. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "big_data_share_market_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1]["id"] if stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": next(self._ids), "parent": self.current(), "name": name,
               **attrs}
        stack = self._stack()
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> dict:
        """Record a span timed elsewhere (a stream batch, a staging
        build seen from its cache)."""
        rec = {"id": next(self._ids), "parent": parent, "name": name,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part of it that its
        children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


def _engine_modules():
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]


class TableProbe:
    """Wraps `tables.load_table` at every module binding; each call is
    a `tables.load` span under whatever span is open."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._bound: list[tuple[object, object]] = []

    def install(self) -> None:
        from big_data_share_market_spark import tables
        orig, tracer = tables.load_table, self.tracer

        def load_table(spark, sf_dir, name, *args, **kwargs):
            with tracer.span("tables.load", sf_dir=sf_dir, table=name):
                return orig(spark, sf_dir, name, *args, **kwargs)

        for mod in _engine_modules():
            if getattr(mod, "load_table", None) is orig:
                self._bound.append((mod, orig))
                mod.load_table = load_table

    def remove(self) -> None:
        for mod, orig in self._bound:
            mod.load_table = orig
        self._bound.clear()


class _StagedDict(dict):
    """A staged-family cache that reports each build: the span runs
    from the lookup that missed to the insert that filled the key."""

    def __init__(self, src: dict, family: str, tracer: Tracer) -> None:
        super().__init__(src)
        self.family, self.tracer = family, tracer
        self._missed: dict = {}

    def _miss(self, key) -> None:
        self._missed.setdefault(key, (time.time(), self.tracer.current()))

    def get(self, key, default=None):
        if not dict.__contains__(self, key):
            self._miss(key)
        return dict.get(self, key, default)

    def __contains__(self, key) -> bool:
        hit = dict.__contains__(self, key)
        if not hit:
            self._miss(key)
        return hit

    def __setitem__(self, key, value) -> None:
        dict.__setitem__(self, key, value)
        missed = self._missed.pop(key, None)
        if missed is not None:
            self.tracer.add("staging", missed[0], time.time(),
                            parent=missed[1], family=self.family)


class StagingProbe:
    """Swaps each staged family's cache dict (the registries listed by
    `staging._cache_registries`) for a `_StagedDict`; `remove` puts the
    original objects back with the entries staged meanwhile."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._swapped: list[tuple[object, str, dict, _StagedDict]] = []

    def install(self) -> None:
        from big_data_share_market_spark import staging
        families = {id(reg): name for name, reg in staging._cache_registries()}
        for mod in _engine_modules():
            for attr, val in list(vars(mod).items()):
                if type(val) is dict and id(val) in families:
                    probe = _StagedDict(val, families[id(val)], self.tracer)
                    self._swapped.append((mod, attr, val, probe))
                    setattr(mod, attr, probe)

    def remove(self) -> None:
        for mod, attr, orig, probe in self._swapped:
            orig.clear()
            orig.update(probe)
            setattr(mod, attr, orig)
        self._swapped.clear()


def staged_footprint(spark) -> tuple[int, int]:
    """(entries held by the staged families, bytes of cached RDD blocks
    in memory and on disk)."""
    from big_data_share_market_spark import staging
    entries = sum(len(keys) for keys in staging.staged_relations().values())
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return entries, sum(i.memSize() + i.diskSize() for i in infos)


class JobStats:
    """Sums the status store's stage data over the jobs of job groups."""

    FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_read",
              "shuffle_write", "spill")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._task_status = sc._jvm.java.util.ArrayList()

    def groups(self, *groups: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError
        out = dict.fromkeys(self.FIELDS, 0)
        seen = set()
        for group in groups:
            for job in self.tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = self.tracker.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    if stage in seen:
                        continue
                    seen.add(stage)
                    try:
                        sd = self.store.stageAttempt(
                            stage, 0, False, self._task_status, False,
                            self._quantiles)._1()
                    except Py4JJavaError:
                        continue  # never submitted
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["run_s"] += sd.executorRunTime() / 1e3
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_read"] += sd.shuffleReadBytes()
                    out["shuffle_write"] += sd.shuffleWriteBytes()
                    out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


class SinkProbe:
    """Wraps `upsert._merge_write`, the upsert sink's storage writer:
    each batch write is a `sink.write` span that records the target's
    rows after the write."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._orig = None

    def install(self) -> None:
        import pyarrow.parquet as pq
        from big_data_share_market_spark.streaming import upsert
        orig = self._orig = upsert._merge_write
        tracer = self.tracer

        def merge_write(spark, target_dir):
            write = orig(spark, target_dir)

            def traced_write(deduped):
                with tracer.span("sink.write") as span:
                    write(deduped)
                span["target_rows"] = sum(
                    pq.read_metadata(f).num_rows
                    for f in glob.glob(f"{target_dir}/*.parquet"))

            return traced_write

        upsert._merge_write = merge_write

    def remove(self) -> None:
        from big_data_share_market_spark.streaming import upsert
        upsert._merge_write = self._orig
